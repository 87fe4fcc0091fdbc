"""Skew-salting evidence probe (VERDICT r6 item 9): measure what the
Y2 technique actually buys on a planted hot key, instead of just
demonstrating its mechanics.

Fixture (in-memory, deterministic): a fact of N rows where ONE key
owns ~50% of rows (the melted-reducer shape) joined to a 100k-key dim
that is too big to broadcast comfortably at scale (broadcast is
disabled for the probe — broadcasting IS the first answer when legal,
layout.py says so; salting exists for when it isn't).

Three contenders, identical results:
- plain  : shuffle-hash join on the raw key (the naive plan);
- aqe    : sort-merge join with AQE skew-join optimization left on
           (what you get "for free" in session.py's defaults);
- salted : layout.salted_join (deterministic xxhash salt x8).

Each contender is timed by ``bench.min_walls``. Prints one JSON line;
REPORT.md records the verdict.

Usage: python scripts/skew_probe.py [--rows 20000000]
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import min_walls  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=20_000_000)
    ap.add_argument("--dim", type=int, default=100_000)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from ad_data_lake_spark import layout
    from ad_data_lake_spark.session import get_spark

    spark = get_spark("skew-probe")
    spark.sparkContext.setLogLevel("ERROR")
    # the probe is about SHUFFLED joins: a broadcastable dim needs no
    # salting, so take broadcast off the table explicitly
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    n, d = args.rows, args.dim
    # ~50% of fact rows land on key 0; the rest spread uniformly
    fact = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(d)))
        .alias("k"),
        (F.col("id") % 1000).cast("double").alias("value"),
    )
    dim = spark.range(d).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("seg")
    )

    def agg(j):
        return j.groupBy("seg").agg(
            F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v")
        )

    plans = {
        "plain_shuffle_hash": lambda: agg(fact.join(dim.hint("shuffle_hash"), "k")),
        "sort_merge_aqe": lambda: agg(fact.join(dim.hint("merge"), "k")),
        "salted_x8": lambda: agg(
            layout.salted_join(fact, dim, "k", "event_id")
        ),
    }

    results = min_walls(spark, plans)
    rows_check = {name: build().count() for name, build in plans.items()}

    assert len(set(rows_check.values())) == 1, rows_check
    print(json.dumps({"rows": n, "dim": d, "seconds": results}))
    spark.stop()


if __name__ == "__main__":
    main()
