"""Scale-crossover bench: time the flagged >2x-of-DuckDB queries at a
REPLICATED scale factor and print the sf0.1 -> sfN ratio trajectory.

Motivation (VERDICT r6): eleven LLM-layer rows run 2-8x DuckDB at
sf0.1, which REPORT.md attributes to Spark's ~0.2 s/stage scheduling
floor at fixture scale. That claim is an extrapolation until the same
queries are timed at a scale where the floor stops dominating. This
script builds that scale:

- Fixture: documents/embeddings replicated REP x from sf0.1 into
  ``<repo>/.scale_fixture/sf<sf>`` (other tables symlinked). Replica
  i != 0 rewrites every token with an ``_i`` suffix (documents) /
  shifts the vector by a per-replica constant (embeddings), so
  replicas share NO shingles with each other or the original — the
  dup/near-dup structure of sf0.1 is reproduced 10x in parallel rather
  than turned into artificial 10-deep duplicate clusters, and ids/
  labels are remapped densely (doc_id*REP+i) so every id-derived
  split (benchmark_mod, dataset splits, query_mod) keeps its sf0.1
  proportions. Both engines read the SAME files, so the ratio is
  apples-to-apples whatever the generator's quirks.
- Timing: ``bench.min_walls`` for Spark (noop sink, warm pass
  discarded, min of two timed passes); ``duckdb_timings`` below for
  DuckDB (fetchall, same passes, in a spawned child process).

Usage: python scripts/bench_scale.py [--rep 10] [--queries a,b,c]
Prints one JSON line; paste the table into BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from functools import partial
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import min_walls  # noqa: E402

SRC_DIR = "/root/testdata/sf0.1"

# The eleven rows graded `weak` in VERDICT r6 (>2x DuckDB at >=0.9 s).
WEAK_ROWS = [
    "exact_substring_dedup",
    "cross_split_leakage",
    "dedup_minhash_lsh",
    "boilerplate_removal",
    "bigram_lm_score",
    "embed_topk_ivf",
    "contamination_check",
    "bloom_decontaminate",
    "semantic_dedup",
    "dsir_weights",
    "dedup_simhash",
]


def build_fixture(rep: int) -> str:
    sf = round(0.1 * rep, 4)
    dst = REPO / ".scale_fixture" / f"sf{sf}"
    done = dst / "_DONE"
    if done.exists():
        return str(dst)
    dst.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    # documents: token-suffix rewrite decorrelates replicas' shingles
    con.execute(
        f"""
        COPY (
          WITH r AS (SELECT unnest(range({rep})) AS i),
               s AS (
            SELECT d.doc_id * {rep} + r.i AS doc_id,
                   CASE WHEN r.i = 0 THEN d.text
                        ELSE array_to_string(
                               list_transform(string_split(d.text, ' '),
                                              w -> w || '_' || r.i), ' ')
                   END AS text,
                   d.lang, d.source
            FROM read_parquet('{SRC_DIR}/documents.parquet') d CROSS JOIN r)
          SELECT doc_id, text, lang, source, length(text) AS n_chars
          FROM s ORDER BY doc_id
        ) TO '{dst}/documents.parquet' (FORMAT PARQUET)
        """
    )
    # embeddings: constant per-replica shift (cheap, deterministic);
    # labels remap densely so per-bucket sizes stay sf0.1-sized — the
    # LINEAR scale path for bucketed pairwise operators
    con.execute(
        f"""
        COPY (
          WITH r AS (SELECT unnest(range({rep})) AS i)
          SELECT e.vec_id * {rep} + r.i AS vec_id,
                 CASE WHEN r.i = 0 THEN e.embedding
                      ELSE list_transform(e.embedding,
                             x -> CAST(x + ((r.i * 7) % 19 - 9) * 0.001
                                       AS FLOAT))
                 END AS embedding,
                 CAST(e.label * {rep} + r.i AS INTEGER) AS label
          FROM read_parquet('{SRC_DIR}/embeddings.parquet') e CROSS JOIN r
          ORDER BY vec_id
        ) TO '{dst}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    for f in os.listdir(SRC_DIR):
        if f.endswith(".parquet") and not (dst / f).exists():
            os.symlink(os.path.join(SRC_DIR, f), dst / f)
    done.touch()
    return str(dst)


def _progress(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _fetch_with_timeout(con, sql: str, seconds: float) -> None:
    """Run one statement with a watchdog: past ``seconds`` the
    connection is interrupted and duckdb raises, which the caller
    records as DNF. Without this, a single engine-intractable oracle
    (the sf1 full-registry run spent 20+ min inside one unrolled-CTE
    query before OOMing the box) costs an unbounded slice of the
    bench budget."""
    import threading

    timer = threading.Timer(seconds, con.interrupt)
    timer.start()
    try:
        con.execute(sql).fetchall()
    finally:
        timer.cancel()


def duckdb_timings(
    sf_dir: str, names: list[str], memlimit: str = "64GB", timeout: float = 180.0
) -> tuple[dict[str, float | None], int | None]:
    """Run the DuckDB side in a SPAWNED CHILD PROCESS and return its
    timings (min of two after a warm run, None for a DNF) and the
    child's DuckDB ``threads`` setting (None if it died). Isolation is
    a measurement-correctness requirement, found the hard way (r11):
    tens of seconds of 32-thread DuckDB execution leave the host Python
    process in a state that slows SUBSEQUENT driver-side Spark work
    (the k-means collect+numpy rows measured 1.6-4× their clean walls
    when DuckDB had run in-process first — semantic_dedup_ivf 5.2 s
    clean vs 20.3 s polluted in the 133-row protocol, while a clean
    session reproduces neither). A child process gives DuckDB its own
    heap and dies with it."""
    import multiprocessing as mp

    ctx = mp.get_context("spawn")
    q: mp.Queue = ctx.Queue()
    p = ctx.Process(
        target=_duckdb_timings_child,
        args=(sf_dir, names, memlimit, timeout, q),
    )
    p.start()
    # bounded wait: if the child is OOM-killed or segfaults (the very
    # failure class the isolation exists for), its except handler never
    # runs and nothing is enqueued — poll liveness instead of blocking
    # forever, and record DNFs for a dead child (r11 ADVICE)
    import queue as _queue

    # the child legally runs THREE watchdog-bounded passes per query
    # (warm + 2 timed), so budget 3x per-statement timeout per name —
    # a healthy slow run must never be killed below its legal worst case
    deadline = time.monotonic() + 3 * timeout * max(1, len(names)) + 120.0
    out = None
    while out is None:
        try:
            out = q.get(timeout=5.0)
        except _queue.Empty:
            if not p.is_alive():
                _progress("duckdb child died without publishing; DNF all")
                out = {n: None for n in names}, None
                break
            if time.monotonic() > deadline:
                _progress("duckdb child exceeded the bench budget; DNF all")
                p.kill()
                out = {n: None for n in names}, None
                break
    p.join(timeout=30)
    if p.is_alive():
        p.kill()
        p.join(timeout=10)
    return out


def _duckdb_timings_child(sf_dir, names, memlimit, timeout, q) -> None:
    try:
        q.put(_duckdb_timings_inproc(sf_dir, names, memlimit, timeout))
    except Exception:  # never leave the parent blocked on the queue
        q.put(({n: None for n in names}, None))
        raise


def _duckdb_timings_inproc(
    sf_dir: str, names: list[str], memlimit: str = "64GB", timeout: float = 180.0
) -> tuple[dict[str, float | None], int]:
    """Per-query guarded: a row whose oracle blows up at scale (OOM or
    watchdog timeout on an unrolled-CTE oracle) records None (DNF)
    instead of killing the whole run — the full-registry sf1 run died
    exactly that way once (one oracle exhausted 128 GB; everything
    after it was lost). The memory limit + spill dir bound the blast
    radius; progress lines flush per row so a crash can't eat the
    measurements."""
    from ad_data_lake_spark.queries import REGISTRY
    from ad_data_lake_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    con.execute(f"SET memory_limit='{memlimit}'")
    tmp = REPO / ".scale_fixture" / "duck_tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out: dict[str, float | None] = {}
    for name in names:
        sql = REGISTRY[name].oracle
        try:
            _fetch_with_timeout(con, sql, timeout)  # warm
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                _fetch_with_timeout(con, sql, timeout)
                el = time.perf_counter() - t0
                best = el if best is None else min(best, el)
            out[name] = best
            _progress(f"duck  {name:40s} {best:8.3f}s")
        except Exception as exc:  # OOM / interrupt / resource errors
            out[name] = None
            _progress(f"duck  {name:40s} DNF ({type(exc).__name__})")
    threads = con.execute("SELECT current_setting('threads')").fetchone()[0]
    con.close()
    return out, threads


def spark_timings(sf_dir: str, names: list[str]) -> tuple[dict[str, float | None], str]:
    """Per-row Spark walls from ``bench.min_walls``, and the master they ran on."""
    from ad_data_lake_spark.queries import REGISTRY
    from ad_data_lake_spark.session import get_spark

    spark = get_spark("bench-scale")
    spark.sparkContext.setLogLevel("ERROR")
    walls = min_walls(spark, {n: partial(REGISTRY[n].fn, spark, sf_dir) for n in names})
    master = spark.sparkContext.master
    spark.stop()
    return walls, master


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rep", type=int, default=10)
    ap.add_argument("--queries", type=str, default=",".join(WEAK_ROWS))
    ap.add_argument("--memlimit", type=str, default="64GB")
    ap.add_argument("--timeout", type=float, default=180.0)
    ap.add_argument(
        "--spark-only",
        action="store_true",
        help="skip the DuckDB side entirely — for rows whose oracle is "
        "engine-intractable at scale (unrolled-CTE oracles), where the "
        "deliverable is Spark's wall-clock SLOPE, not a ratio",
    )
    args = ap.parse_args()
    names = [q for q in args.queries.split(",") if q]

    sf_dir = build_fixture(args.rep)
    sf = round(0.1 * args.rep, 4)
    duck, duck_threads = (
        ({n: None for n in names}, None)
        if args.spark_only
        else duckdb_timings(sf_dir, names, args.memlimit, args.timeout)
    )
    spark, master = spark_timings(sf_dir, names)

    rows = []
    for n in names:
        d, s = duck[n], spark[n]
        rows.append(
            (
                n,
                round(d, 3) if d is not None else None,
                round(s, 3) if s is not None else None,
                round(s / d, 2) if d and s is not None else None,
            )
        )
    print(f"\n| Query | DuckDB sf{sf} (s) | Spark sf{sf} (s) | Ratio |")
    print("|---|---|---|---|")
    for n, d, s, r in rows:
        print(f"| {n} | {d if d is not None else 'DNF'} | "
              f"{s if s is not None else 'DNF'} | "
              f"{f'{r}x' if r is not None else '—'} |")
    both = [(n, d, s) for n, d, s, _ in rows if d is not None and s is not None]
    dnf = [n for n, d, s, _ in rows if d is None or s is None]
    td = sum(d for _, d, _ in both)
    ts = sum(s for _, _, s in both)
    if td > 0:
        print(
            f"\nAGGREGATE over {len(both)} rows (DNF excluded: {dnf or 'none'}): "
            f"DuckDB {td:.1f}s, Spark {ts:.1f}s, ratio {ts / td:.2f}x"
        )
    else:  # --spark-only (or every oracle DNF'd): slope numbers only
        ts_all = sum(s for _, _, s, _ in rows if s is not None)
        print(f"\nSPARK-ONLY total over {len(rows)} rows: {ts_all:.1f}s")
    print(
        json.dumps(
            {
                "sf": sf,
                "rep": args.rep,
                "spark_master": master,
                "duckdb_threads": duck_threads,
                "duckdb": duck,
                "spark": spark,
                "ratios": {n: r for n, _, _, r in rows},
                "aggregate": {
                    "n": len(both),
                    "duckdb_sec": round(td, 2),
                    "spark_sec": round(ts, 2),
                    "ratio": round(ts / td, 3) if td else None,
                    "dnf": dnf,
                },
            }
        )
    )


if __name__ == "__main__":
    main()
