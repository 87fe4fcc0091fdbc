"""ngram_jaccard_pairs scale story (VERDICT r9 ask #5).

The registry row's candidate set is id-bucketed with a FIXED ``mod``
(50), sized for the sf0.1 oracle gate — so docs-per-bucket grows
linearly with the corpus and candidate PAIRS grow quadratically. That
is by construction (the operator verifies a caller-supplied candidate
set; its docstring points production at the banded LSH join in
``minhash_neardup_pairs``),
but it means the registry row's wall-clock has a quadratic slope that
says nothing about the operator at 100 TB.

This script measures the operator the way a scaled deployment runs
it: ``mod`` grows with the corpus (mod = 50·rep), holding
candidates-per-doc CONSTANT — the same discipline as scaling shuffle
partitions with data. Linear wall-clock here is the scale evidence.
Each rep is timed by ``bench.min_walls``; the row counts the pairs.

Usage: python scripts/bench_ngram_scaled.py [rep ...]  (default 10 30 100)
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import min_walls  # noqa: E402
from scripts.bench_scale import build_fixture  # noqa: E402

BASE_MOD = 50  # the registry row's mod at sf0.1


def main() -> None:
    reps = [int(r) for r in sys.argv[1:]] or [10, 30, 100]
    from pyspark.sql import functions as F

    from ad_data_lake_spark.llm.dedup import ngram_jaccard_pairs
    from ad_data_lake_spark.session import get_spark
    from ad_data_lake_spark.sources.tables import load_table

    spark = get_spark("bench-ngram-scaled")
    spark.sparkContext.setLogLevel("ERROR")

    results = []
    for rep in reps:
        sf_dir = build_fixture(rep)
        sf = round(0.1 * rep, 4)
        corpus = load_table(spark, "documents", sf_dir).select("doc_id", "text")
        mod = BASE_MOD * rep
        wall = min_walls(
            spark, {"pairs": lambda: ngram_jaccard_pairs(corpus, mod=mod).select(F.count("*"))}
        )["pairs"]
        results.append({"sf": sf, "mod": mod, "wall_sec": wall})
        print(
            f"sf{sf}: mod={mod} (constant candidates/doc) wall={wall}s",
            file=sys.stderr,
            flush=True,
        )

    print("\n| sf | mod (candidates/doc held constant) | Spark wall (s) |")
    print("|---|---|---|")
    for r in results:
        print(f"| {r['sf']} | {r['mod']} | {r['wall_sec']} |")
    print(json.dumps({"metric": "ngram_jaccard_scaled", "rows": results}))
    spark.stop()


if __name__ == "__main__":
    main()
