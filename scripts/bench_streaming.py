"""Streaming-tier throughput baseline (VERDICT r9 ask #7).

The nine streaming registry rows are value-verified by the driver gate
but appear in no perf table — bench.py and the scale runs exclude
"write"-tagged rows because their oracles do no IO. This script gives
the tier a REGRESSION baseline: one end-to-end wall measurement per
row at sf0.1 and the implied drain rate.

Method: ``bench.min_walls`` (warm pass discarded, min of two timed
passes), one row per child JVM. Wall is the WHOLE registry callable —
source-fixture write + availableNow drain + result read-back — so
events/s here is a conservative LOWER bound on pure drain rate; it is
stable enough for regression detection, which is all this table
claims. Input rows are
the rows actually fed to the stream source (events fact = 100k at
sf0.1; the two planted-duplicate pipelines feed 110k; the corpus rows
feed the duplicated documents corpus, counted at runtime).

Each row runs in its OWN CHILD PROCESS (own JVM) — r12 verdict #3: the
old 11-drains-one-JVM run carried state-store dirs and listener
backlog forward and inflated later rows 2-5x (streaming_attribution_
join 2.66->12.82 s in the tier run vs 5.8 s clean; streaming_rare_
token_scrub 1.20->3.84 vs 2.7). Same measurement-isolation discipline
bench_scale.py's DuckDB side got in r11. A child that dies or exceeds
its budget records DNF (null) instead of killing the table.

Usage: python scripts/bench_streaming.py [sf_dir] [--rep N]
(``--one NAME`` is the child entry: time one row and print its wall.)
Prints a markdown table + one JSON line; paste the table into
BASELINE.md.

``--rep N`` (VERDICT r10 ask #5) builds a STREAM-scale fixture at
``<repo>/.scale_fixture/stream_sf{0.1*N}``: events and documents
replicated N× with disjoint id/user spaces (each replica's users are
new users in the same time span — so watermark windows stay put while
per-key STATE grows N×, exactly the dimension a bigger deployment
stresses), every other table symlinked. The bench then runs against
that fixture, showing micro-batch overhead amortizing and state stores
staying bounded as the stream scales.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from functools import partial, reduce
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import min_walls  # noqa: E402

# name -> how to count the rows the pipeline streams (evaluated once)
_EVENTS = "events"
_EVENTS_PLUS_DUPS = "events+dups"  # every 10th event planted twice
_DUP_CORPUS = "dup_corpus"
_DOCS = "documents"

STREAM_ROWS: dict[str, str] = {
    "streaming_daily_insights": _EVENTS_PLUS_DUPS,
    "streaming_sliding_insights": _EVENTS_PLUS_DUPS,
    "streaming_sessionize": _EVENTS,
    "streaming_dim_enrich": _EVENTS,
    "streaming_frequency_cap": _EVENTS,
    "streaming_frequency_cap_batchwise": _EVENTS,
    "streaming_attribution_join": _EVENTS,
    "streaming_json_sanitize": _EVENTS,
    "streaming_corpus_ingest": _DUP_CORPUS,
    "streaming_rare_token_scrub": _DOCS,
    "streaming_multimodal_features": _DOCS,
}


def _input_rows(spark, sf_dir: str) -> dict[str, int]:
    from ad_data_lake_spark.llm.corpus import dup_corpus
    from ad_data_lake_spark.sources.tables import load_table

    n_events = load_table(spark, "events", sf_dir).count()
    n_docs = load_table(spark, "documents", sf_dir).count()
    n_dup_corpus = dup_corpus(load_table(spark, "documents", sf_dir)).count()
    return {
        _EVENTS: n_events,
        _EVENTS_PLUS_DUPS: n_events + n_events // 10,
        _DUP_CORPUS: n_dup_corpus,
        _DOCS: n_docs,
    }


def _build_stream_fixture(spark, base: str, rep: int) -> str:
    """Replicate events+documents rep× into a stream-scale fixture
    (disjoint id/user spaces per replica; same time span), symlink the
    rest. Idempotent via a _DONE marker."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from ad_data_lake_spark.sources.tables import TABLE_NAMES, load_table

    tag = os.path.basename(base.rstrip("/")).removeprefix("sf")
    out = str(REPO / ".scale_fixture" / f"stream_sf{round(float(tag) * rep, 2)}")
    marker = os.path.join(out, "_DONE")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    OFF = 100_000_000  # far above any fixture id space

    ev = load_table(spark, "events", base)
    ev_reps = [
        ev.withColumn("event_id", F.col("event_id") + F.lit(i * OFF)).withColumn(
            "user_id", F.col("user_id") + F.lit(i * OFF)
        )
        for i in range(rep)
    ]
    # many output files: file-source parallelism is per-file (the r10
    # one-file lesson); 32 files ≈ an upstream writer's per-trigger fan
    reduce(DataFrame.unionByName, ev_reps).repartition(32).write.mode(
        "overwrite"
    ).parquet(os.path.join(out, "events.parquet"))

    docs = load_table(spark, "documents", base)
    doc_reps = [
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * OFF)).withColumn(
            "text", F.concat(F.col("text"), F.lit(f" r{i}"))
        )
        for i in range(rep)
    ]
    reduce(DataFrame.unionByName, doc_reps).repartition(16).write.mode(
        "overwrite"
    ).parquet(os.path.join(out, "documents.parquet"))

    for t in TABLE_NAMES:
        if t in ("events", "documents"):
            continue
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(base, f"{t}.parquet"), dst)
    with open(marker, "w") as f:
        f.write(f"rep={rep} base={base}\n")
    return out


def _measure_one(sf_dir: str, name: str) -> None:
    """Child entry: measure ONE row in a fresh JVM and print its wall
    (null if the row failed) as the last stdout line (JSON)."""
    from ad_data_lake_spark.queries import REGISTRY
    from ad_data_lake_spark.session import get_spark

    spark = get_spark(f"bench-streaming-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    walls = min_walls(spark, {name: partial(REGISTRY[name].fn, spark, sf_dir)})
    print(json.dumps({"name": name, "wall": walls[name]}), flush=True)
    spark.stop()


_CHILD_BUDGET = 1800.0  # generous: 3 full drains of the slowest row


def _measure_in_child(sf_dir: str, name: str) -> float | None:
    """Spawn ``bench_streaming.py <sf_dir> --one <name>`` and parse the
    wall off its last stdout line; None (DNF) on crash/budget."""
    import subprocess

    try:
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), sf_dir, "--one", name],
            capture_output=True,
            text=True,
            timeout=_CHILD_BUDGET,
        )
    except subprocess.TimeoutExpired:
        print(f"{name}: exceeded child budget; DNF", file=sys.stderr, flush=True)
        return None
    if r.returncode != 0:
        tail = (r.stderr or "").strip().splitlines()[-3:]
        print(f"{name}: child died; DNF ({tail})", file=sys.stderr, flush=True)
        return None
    for line in reversed(r.stdout.strip().splitlines()):
        try:
            d = json.loads(line)
        except json.JSONDecodeError:
            continue
        if d.get("name") == name:
            return d["wall"]
    print(f"{name}: no wall published; DNF", file=sys.stderr, flush=True)
    return None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("--rep", type=int, default=1)
    ap.add_argument("--one")
    args = ap.parse_args()
    sf_dir = args.sf_dir
    if args.one:
        _measure_one(sf_dir, args.one)
        return
    from ad_data_lake_spark.session import get_spark

    spark = get_spark("bench-streaming")
    spark.sparkContext.setLogLevel("ERROR")
    if args.rep > 1:
        sf_dir = _build_stream_fixture(spark, sf_dir, args.rep)
        print(f"stream fixture: {sf_dir}", file=sys.stderr, flush=True)
    counts = _input_rows(spark, sf_dir)
    spark.stop()  # children get their own JVMs; free this one first

    walls: dict[str, float | None] = {}
    for name in STREAM_ROWS:
        walls[name] = _measure_in_child(sf_dir, name)
        shown = f"{walls[name]:7.2f}s" if walls[name] is not None else "    DNF"
        print(f"{name:32s} {shown}", file=sys.stderr, flush=True)

    sf = (
        os.path.basename(sf_dir.rstrip("/"))
        .removeprefix("stream_sf")
        .removeprefix("sf")
    )
    print(f"\n| Streaming row | Input rows (sf{sf}) | Wall (s) | rows/s |")
    print("|---|---|---|---|")
    rates: dict[str, int | None] = {}
    for name, src in STREAM_ROWS.items():
        n = counts[src]
        w = walls[name]
        rates[name] = round(n / w) if w else None
        wall_s = f"{w:.2f}" if w is not None else "DNF"
        print(f"| {name} | {n} | {wall_s} | {rates[name] or '—'} |")
    print(
        json.dumps(
            {
                "metric": "streaming_drain",
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "walls": walls,
                "rows_per_sec": rates,
                "isolation": "one child JVM per row",
            }
        )
    )


if __name__ == "__main__":
    main()
