"""Data-selection operators: Bloom-filter decontamination and DSIR
importance resampling.

Both answer the same 100 TB question — "which documents do I keep?" —
with reference sets too large or too statistical for the broadcast-set
join of ``curation.contamination_check``:

- ``bloom_decontaminate``: membership against a reference shingle set
  compressed to a FIXED-SIZE bit array. ``contamination_check``
  broadcasts the benchmark's distinct shingle hashes — fine for an
  eval suite (MBs), impossible when the reference set is a prior crawl
  (billions of shingles). A Bloom filter caps the broadcast at ``m``
  bits forever, trading a bounded, measurable false-positive rate
  (zero false negatives — an FP flags a clean document for review, it
  never leaks a contaminated one). The probe side is a pure codegen
  projection against the literal bitmap: ZERO joins over the corpus.
- ``dsir_weights``: Data Selection via Importance Resampling (Xie et
  al. 2023, arXiv:2302.03169): score every raw document by how much
  more likely its hashed-unigram bag is under the target distribution
  than under the raw-corpus distribution, keep high-ratio documents.
  The two n-gram count models are ONE bucket-bounded aggregate
  (B buckets regardless of corpus size) broadcast back over the token
  stream — train and score read the corpus once each, nothing
  driver-side but the bounded model.

Hashes are md5-derived (cross-engine reproducible) so both operators
are value-verified by the DuckDB oracle, false positives included —
the oracle reproduces the same bit math, so the FP set is identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ad_data_lake_spark.llm.curation import BENCHMARK_MOD
from ad_data_lake_spark.llm.dedup import doc_distinct_shingle_h60s
from ad_data_lake_spark.llm.text import words

# Bloom geometry: m bits in 63-bit words (bit index never reaches the
# sign bit, so the word math is identical on any engine without
# wraparound edge cases), k probes by double hashing off the one h60
# the shingle pipeline already computes. m=2^17, k=4 gives FP ≈ 1.2 %
# at ~9 k reference shingles (sf0.01); at scale m is sized to the
# reference-set cardinality (m ≈ 1.44 · n · ln(1/fp) / ln 2), still
# constant per executor.
BLOOM_BITS = 1 << 17
BLOOM_K = 4
_WORD_BITS = 63
BLOOM_WORDS = (BLOOM_BITS + _WORD_BITS - 1) // _WORD_BITS


def _probe_positions(h60):
    """k bit positions from one 60-bit hash by double hashing:
    pos_i = (h1 + i·h2) mod m with h2 forced odd (full cycle mod 2^17)."""
    m = F.lit(BLOOM_BITS).cast("long")
    h1 = h60 % m
    # h60 >> 17: exact integer shift (a float division here would
    # round 60-bit values past double precision and drift vs the
    # oracle's integer arithmetic)
    h2 = (F.shiftright(h60, 17) % m).bitwiseOR(F.lit(1).cast("long"))
    return [(h1 + F.lit(i).cast("long") * h2) % m for i in range(BLOOM_K)]


# Built bitmaps memoized by the reference plan's semantic hash — the
# same bounded-model reuse as the IVF centroid literals: a Bloom model
# is IMMUTABLE once built (inserts only ever set bits; this builder
# sees a fixed reference frame), so any caller probing the same
# reference plan + geometry reuses the 16 KB list instead of re-running
# the build job (0.7 s/pass at sf0.1 — rebuilt per bench pass before).
_BITMAP_CACHE: dict[tuple, list[int]] = {}
_BITMAP_CACHE_MAX = 64


def clear_bitmap_cache() -> None:
    """Bench-contract hook (r14 verdict #2): a memoized intermediate
    keyed on the test data must not let a timed bench pass skip the
    model build the oracle re-does every run. bench.py calls this
    before every timed query invocation; production callers never
    need to."""
    _BITMAP_CACHE.clear()


def _plan_key(df: DataFrame) -> int | None:
    """Semantic hash of the analyzed logical plan — stable across
    re-derivations of the same frame, distinct across source paths
    (different sf dirs never collide)."""
    try:
        return df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:  # Spark Connect or API drift: skip memoization
        return None


def _data_fingerprint(df: DataFrame) -> int | None:
    """Fingerprint of the frame's underlying FILES (path, size, mtime)
    — the plan hash alone encodes the source path but not the data, so
    regenerating the reference parquet at the same path within a
    session would otherwise serve a stale bitmap. ``inputFiles()`` is
    a driver-side listing (no job); a non-file source (in-memory
    frame) fingerprints as the empty tuple, falling back to
    plan-hash-only semantics."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    sig = []
    for uri in sorted(files):
        path = uri[len("file:") :] if uri.startswith("file:") else uri
        try:
            st = os.stat(path)
            sig.append((uri, st.st_size, st.st_mtime_ns))
        except OSError:
            sig.append((uri, -1, -1))
    return hash(tuple(sig))


def bloom_bitmap(reference: DataFrame) -> list[int]:
    """Build the bit array from the reference corpus' distinct shingle
    hashes: explode each hash's k positions, one bounded aggregate to
    ≤ BLOOM_WORDS rows, collect to a plain Python list. The collect is
    the point — the model is ``m`` bits by construction (16 KB here),
    the same bounded-model pattern as the IVF centroid literals; the
    reference corpus itself streams through one scan + one aggregate
    whose output cannot exceed BLOOM_WORDS rows. Results are memoized
    per (reference plan, data fingerprint, m, k) — the fingerprint
    covers the scanned files' sizes/mtimes, so regenerating the
    reference at the same path invalidates the cache entry — see
    ``_BITMAP_CACHE``."""
    key = _plan_key(reference)
    cache_key = (
        (key, _data_fingerprint(reference), BLOOM_BITS, BLOOM_K)
        if key is not None
        else None
    )
    if cache_key is not None and cache_key in _BITMAP_CACHE:
        return _BITMAP_CACHE[cache_key]
    # Arrow kernel (r15): per-doc-distinct rows in, one global distinct
    # over far fewer rows (cross-doc overlap only) before the fan-out.
    hashes = doc_distinct_shingle_h60s(reference).select("h60").distinct()
    pos = hashes.select(
        F.explode(F.array(*_probe_positions(F.col("h60")))).alias("p")
    )
    rows = (
        pos.select(
            (F.col("p") / _WORD_BITS).cast("long").alias("word"),
            # 2^bit as a double is exact for bit <= 62 (and shiftleft()
            # only takes a literal shift count, not a column)
            F.pow(F.lit(2.0), (F.col("p") % _WORD_BITS).cast("int")).cast("long").alias(
                "bit"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    bitmap = [0] * BLOOM_WORDS
    for r in rows:
        bitmap[r["word"]] = r["bits"]
    if cache_key is not None and len(_BITMAP_CACHE) < _BITMAP_CACHE_MAX:
        _BITMAP_CACHE[cache_key] = bitmap
    return bitmap


def bloom_decontaminate(
    documents: DataFrame, benchmark_mod: int = BENCHMARK_MOD
) -> DataFrame:
    """Per corpus document: how many of its distinct shingles hit the
    reference Bloom filter (every truly-shared shingle hits; a bounded
    FP tail over-flags). Probe plan: exploded shingles → one
    (doc_id, h60) dedup aggregate → bit tests against the LITERAL
    bitmap (codegen, no join, nothing broadcast but m bits) → one
    per-doc count aggregate."""
    reference = documents.where(F.col("doc_id") % benchmark_mod == 0)
    corpus = documents.where(F.col("doc_id") % benchmark_mod != 0)
    # SQL-parsed array literal: F.lit() on a 2081-element Python list
    # pays ~1.4 s of py4j per-element round trips at plan-construction
    # time; one parsed "array(..L)" string is ~5 ms and folds to the
    # identical Literal (verified by the value oracle).
    words_ = bloom_bitmap(reference)
    bitmap = F.expr("array(" + ",".join(f"{v}L" for v in words_) + ")")
    hit = None
    for p in _probe_positions(F.col("h60")):
        word = (p / _WORD_BITS).cast("long") + 1  # element_at is 1-based
        mask = F.pow(F.lit(2.0), (p % _WORD_BITS).cast("int")).cast("long")
        test = F.element_at(bitmap, word.cast("int")).bitwiseAND(mask) != 0
        hit = test if hit is None else (hit & test)
    # r15: the distinct (doc_id, h60) probe stream comes from the Arrow
    # kernel — per-doc np.unique IS the pair distinct (row atomicity),
    # so the corpus explode + md5-per-occurrence + dedup EXCHANGE are
    # gone; the only shuffle left is the per-doc count aggregate.
    dedup = doc_distinct_shingle_h60s(corpus)
    return (
        dedup.withColumn("hit", hit)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count_if(F.col("hit")).alias("n_flagged"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_flagged",
            F.round(F.col("n_flagged") / F.col("n_shingles"), 4).alias(
                "bloom_contamination"
            ),
        )
    )


# DSIR: hashed-unigram feature space and Laplace smoothing.
DSIR_BUCKETS = 1024
_SMOOTH = 1


def _bucket(token):
    """28-bit md5 prefix mod B — the hashed feature index, identical
    arithmetic in the DuckDB oracle."""
    return (
        F.conv(F.substring(F.md5(token), 1, 7), 16, 10).cast("long")
        % DSIR_BUCKETS
    )


def dsir_weights(
    documents: DataFrame, benchmark_mod: int = BENCHMARK_MOD
) -> DataFrame:
    """DSIR importance weights: per raw-corpus document the mean
    per-token log importance ratio log p_target(b) − log p_raw(b) over
    hashed-unigram buckets, with Laplace smoothing; ``selected`` marks
    documents whose token distribution looks more target-like than
    raw-like (ratio > 0) — the resampling keep set.

    Target = the benchmark slice (the deterministic stand-in for "high
    quality target domain"); raw = everything else. The token stream
    is COMPACTED once into a (side, doc, bucket, cnt) aggregate and
    checkpointed: the bucket models, the scalar totals, AND the
    scoring stream all derive from it, so the tokenize + per-token
    md5-bucket pass — the compute-heavy part — runs exactly once (the
    r14 before-plan evaluated it twice: once into the model aggregate,
    once under the scoring stream; 1.70 s → 1.32 s median at sf0.1).
    Per-doc means re-weight by ``cnt`` — log-ratios are constant per
    bucket, so Σ cnt·lr / Σ cnt is the token-level mean exactly (same
    4-dp round; verified value-equal row-for-row). The bounded bucket
    model still broadcasts back; nothing doc-sized joins."""
    from ad_data_lake_spark.sources.tables import spread

    # tokenize + per-token hash bucket is the compute-bound map stage:
    # fan the narrow scan out (no-op on production row groups)
    toks = spread(documents).select(
        (F.col("doc_id") % benchmark_mod == 0).alias("is_target"),
        "doc_id",
        F.explode(words(F.col("text"))).alias("token"),
    ).withColumn("bucket", _bucket(F.col("token")))
    grouped = (
        toks.groupBy("is_target", "doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    counts = grouped.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), F.col("cnt")).otherwise(F.lit(0))).alias(
            "t_cnt"
        ),
        F.sum(F.when(~F.col("is_target"), F.col("cnt")).otherwise(F.lit(0))).alias(
            "s_cnt"
        ),
    )
    totals = counts.agg(
        F.sum("t_cnt").alias("t_total"), F.sum("s_cnt").alias("s_total")
    )
    log_ratio = F.log(
        (F.coalesce(F.col("t_cnt"), F.lit(0)) + _SMOOTH)
        / (F.col("t_total") + _SMOOTH * DSIR_BUCKETS)
    ) - F.log(
        (F.coalesce(F.col("s_cnt"), F.lit(0)) + _SMOOTH)
        / (F.col("s_total") + _SMOOTH * DSIR_BUCKETS)
    )
    return (
        grouped.where(~F.col("is_target"))
        .join(F.broadcast(counts), "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.round(F.sum(log_ratio * F.col("cnt")) / F.sum("cnt"), 4).alias(
                "avg_log_ratio"
            ),
        )
        .withColumn("selected", F.col("avg_log_ratio") > 0)
    )


def perplexity_buckets(documents: DataFrame) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020,
    arXiv:1911.00359 §4.3): score every document with the corpus
    language model, split each LANGUAGE's score distribution into
    head/middle/tail tertiles, and tag documents with their bucket —
    the selection step CCNet applies before keeping head(+middle) for
    training. Buckets are per-language because perplexity scales are
    not comparable across languages (the paper's design).

    Plan: the LM scoring pass (bounded broadcast model —
    ``unigram_lm_score``'s scale notes apply) → one language-keyed
    aggregate computing both tertile thresholds EXACTLY
    (``percentile``; languages are few, so the per-group value buffer
    is per-language corpus size — at 100 TB swap in
    ``approx_percentile``, same plan shape, the A11 exact/approx twin
    pattern) → thresholds broadcast back over the scored stream.
    Assignment is `<=` against the interpolated thresholds, identical
    arithmetic in the DuckDB oracle (quantile_cont)."""
    from ad_data_lake_spark.llm.text import unigram_lm_score

    scores = unigram_lm_score(documents).select("doc_id", "perplexity")
    # The scored stream feeds BOTH the threshold aggregate and the
    # final bucket projection; the two subtrees canonicalize
    # differently after pruning, so ReuseExchange shares only the
    # vocab aggregate, not the scoring pass — the corpus was scored
    # twice (r14 plan audit). Materialize once (lazy localCheckpoint:
    # ~24 B/doc — doc_id, lang, perplexity — far cheaper than a second
    # LM-scoring pass at any scale; eager=False keeps plan build
    # job-free for the lazy-SQL-view contract).
    scored = (
        documents.select("doc_id", "lang")
        .join(scores, "doc_id")
        .localCheckpoint(eager=False)
    )
    thr = scored.groupBy("lang").agg(
        F.percentile("perplexity", F.lit(1.0 / 3)).alias("t1"),
        F.percentile("perplexity", F.lit(2.0 / 3)).alias("t2"),
    )
    return scored.join(F.broadcast(thr), "lang").select(
        "doc_id",
        "lang",
        "perplexity",
        F.when(F.col("perplexity") <= F.col("t1"), F.lit("head"))
        .when(F.col("perplexity") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


NB_VOCAB_K = 64


def nb_quality_score(
    documents: DataFrame,
    vocab_k: int = NB_VOCAB_K,
    min_words: int | None = None,
    max_words: int | None = None,
) -> DataFrame:
    """Model-based quality filtering — the fastText-classifier tier of
    a curation stack (CCNet/LLaMA-style "quality classifier"), reduced
    to a deterministically-reproducible core: a Naive-Bayes log-odds
    model over a bounded token vocabulary, TRAINED ON WEAK LABELS from
    the rule tier (``gopher_rules.keep``) and scoring every document —
    the standard bootstrap when no human labels exist (rules label,
    model generalizes; a real deployment swaps in fastText weights,
    the plan shape is identical).

    score(d) = ln((n_pos+1)/(n_neg+1)) + Σ_{t ∈ d ∩ vocab} llr(t),
    llr(t) = ln((c_pos(t)+1)/(N_pos+V)) − ln((c_neg(t)+1)/(N_neg+V))
    (Laplace smoothing throughout); ``pred`` tests the 4-dp-ROUNDED
    score so the verdict can't flip on last-ulp ln() drift.

    Scale shape: label pass is the zero-shuffle Gopher projection;
    training is ONE token aggregate truncated to top-K — the model is
    bounded by construction and BROADCASTS at any corpus size (same
    contract as the unigram/bigram LM trainers); scoring left-joins
    the broadcast model into one doc aggregate. The corpus shuffles
    zero times on the token stream."""
    from ad_data_lake_spark.llm.text import (
        GOPHER_MAX_WORDS,
        GOPHER_MIN_WORDS,
        gopher_rules,
        words,
    )

    from ad_data_lake_spark.sources.tables import spread

    # ONE corpus pass computes label + token explode together (the
    # Gopher verdict is a pure expression — no label join exists), and
    # the (doc_id, label, token) stream is checkpointed once for its
    # two consumers (trainer aggregate, scorer join) — the same
    # shared-carrier pattern as remove_boilerplate
    g = gopher_rules(
        spread(documents),
        min_words=GOPHER_MIN_WORDS if min_words is None else min_words,
        max_words=GOPHER_MAX_WORDS if max_words is None else max_words,
        keep_text=True,
    )
    toks = g.select(
        "doc_id",
        F.col("keep").alias("label"),
        F.explode(words(F.col("text"))).alias("token"),
    ).localCheckpoint(eager=False)
    counts = toks.groupBy("token").agg(
        F.count_if(F.col("label")).alias("c_pos"),
        F.count_if(~F.col("label")).alias("c_neg"),
    )
    vocab = counts.orderBy(
        F.desc(F.col("c_pos") + F.col("c_neg")), F.asc("token")
    ).limit(vocab_k)
    mt = vocab.agg(
        F.sum("c_pos").alias("n_pos"),
        F.sum("c_neg").alias("n_neg"),
        F.count("*").alias("v"),
    )
    llr = vocab.crossJoin(F.broadcast(mt)).select(
        "token",
        (
            F.log((F.col("c_pos") + 1.0) / (F.col("n_pos") + F.col("v")))
            - F.log((F.col("c_neg") + 1.0) / (F.col("n_neg") + F.col("v")))
        ).alias("llr"),
    )
    per_doc = (
        toks.join(F.broadcast(llr), "token", "left")
        .groupBy("doc_id", "label")
        .agg(
            F.count_if(F.col("llr").isNotNull()).alias("n_vocab_tokens"),
            F.sum(F.coalesce(F.col("llr"), F.lit(0.0))).alias("s"),
        )
    )
    # pri re-aggregates from the CHECKPOINTED token stream (cheap),
    # keeping the scoring plan visible for the plan-shape tests
    pri = per_doc.agg(
        F.log(
            (F.count_if(F.col("label")) + 1.0)
            / (F.count_if(~F.col("label")) + 1.0)
        ).alias("prior")
    )
    score = F.round(F.col("prior") + F.col("s"), 4)
    return per_doc.crossJoin(F.broadcast(pri)).select(
        "doc_id",
        "label",
        "n_vocab_tokens",
        score.alias("score"),
        (score > 0).alias("pred"),
    )
