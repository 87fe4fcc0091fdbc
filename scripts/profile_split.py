"""Split per-query wall clock into DataFrame build, plan (analyze +
optimize + physical planning), and execution (noop sink, incl. AQE).

Usage: python scripts/profile_split.py [query ...]   (default: slowest
rows from the current bench record). Each query is warmed once first so
codegen/footer caching isn't billed; unlike ``bench.min_walls`` it times
one pass, split into phases.
Output: one line per query with build/plan/exec seconds plus the job
and stage counts of the timed exec pass.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT = [
    "neardup_clusters",
    "neardup_clusters_star",
    "dedup_keep_best",
    "exact_substring_dedup",
    "ngram_jaccard_pairs",
    "dedup_minhash_lsh_xx",
    "bpe_encode_ids",
    "contrastive_triplets",
    "boilerplate_removal",
    "cross_split_leakage",
    "semantic_dedup_ivf",
    "semantic_dedup",
    "nb_quality_score",
    "sanitize_dynamic_json",
    "domain_pagerank",
    "dedup_minhash_lsh",
    "hybrid_retrieve_rrf",
    "nested_report",
    "bigram_lm_score",
    "bloom_decontaminate",
    "contamination_check",
    "bm25_retrieve",
    "embed_topk_ivf_sq8",
    "dsir_weights",
    "embed_topk_ivf",
    "cms_heavy_hitters",
    "pmi_collocations",
    "dedup_simhash",
    "novelty_profile",
    "filter_agreement",
]


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from ad_data_lake_spark.queries import REGISTRY
    from ad_data_lake_spark.session import get_spark

    spark = get_spark("profile-split")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    print(f"{'query':32s} {'build':>7} {'plan':>7} {'exec':>7} {'total':>7} {'jobs':>5} {'stages':>7}")
    for name in names:
        spec = REGISTRY[name]
        sc.setJobDescription(f"warm:{name}")
        noop(spec.fn(spark, sf_dir))

        jobs0 = tracker.getJobIdsForGroup(None)
        hi0 = max(jobs0) if jobs0 else -1
        sc.setJobDescription(f"timed:{name}")
        t0 = time.perf_counter()
        df = spec.fn(spark, sf_dir)
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        noop(df)
        t3 = time.perf_counter()
        jobs1 = tracker.getJobIdsForGroup(None)
        new_jobs = [j for j in jobs1 if j > hi0]
        n_stages = 0
        for j in new_jobs:
            ji = tracker.getJobInfo(j)
            if ji is not None:
                n_stages += len(ji.stageIds)
        print(
            f"{name:32s} {t1 - t0:7.3f} {t2 - t1:7.3f} {t3 - t2:7.3f} "
            f"{t3 - t0:7.3f} {len(new_jobs):5d} {n_stages:7d}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
