"""Bench a SUBSET of registry rows at an arbitrary data dir / core
count — the scale-probe harness. Timing is ``bench.min_walls``, the
loop bench.py runs; ``value`` is null when any row failed.

Usage: SPARK_GRAFT_CPUS=8 python scripts/bench_subset.py <dir> <q> [q ...]
"""

from __future__ import annotations

import json
import os
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import min_walls  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    from ad_data_lake_spark.queries import REGISTRY
    from ad_data_lake_spark.session import get_spark

    spark = get_spark("bench-subset")
    spark.sparkContext.setLogLevel("ERROR")
    timings = min_walls(spark, {n: partial(REGISTRY[n].fn, spark, sf_dir) for n in names})
    out = {
        "metric": "subset_total",
        "value": None if None in timings.values() else round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "dir": sf_dir,
        "master": spark.sparkContext.master,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
