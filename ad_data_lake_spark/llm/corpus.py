"""Deterministic dedup-test corpora built from the ``documents`` fixture.

The driver's synthetic documents contain no duplicates, so the dedup
operators construct them golden-style: the corpus is the base table
unioned with marked copies (exact, near, or renormalizable). Both the
Spark builders and the DuckDB ``WITH corpus AS`` fragments live here so
the two sides can never drift.

Doc-id offsets (base ids are < 1e6 at every fixture sf):
- +1_000_000: exact copy (identical text), every 7th doc
- +2_000_000: near copy (three tokens appended), every 11th doc
- +3_000_000: renormalizable copy (upper-cased, doubled whitespace),
  every 5th doc — equal after normalization, unequal raw
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EXACT_MOD = 7
NEAR_MOD = 11
NORM_MOD = 5
EXACT_OFFSET = 1_000_000
NEAR_OFFSET = 2_000_000
NORM_OFFSET = 3_000_000
NEAR_SUFFIX = " extra appended tail"


def dup_corpus(documents: DataFrame) -> DataFrame:
    """Base ∪ exact copies ∪ near copies — input for exact/MinHash/
    SimHash dedup. Built as ONE scan + a per-row variant explode (each
    row emits itself plus its planted copies) instead of a 3-branch
    union: the union form scanned the parquet three times, and every
    shingle-heavy consumer paid it (~0.25 s/query at sf0.1; values
    identical — the DuckDB oracle keeps the equivalent UNION ALL)."""
    variants = F.array(
        F.struct(F.col("doc_id"), F.col("text")),
        F.when(
            F.col("doc_id") % EXACT_MOD == 0,
            F.struct(
                (F.col("doc_id") + EXACT_OFFSET).alias("doc_id"), F.col("text")
            ),
        ),
        F.when(
            F.col("doc_id") % NEAR_MOD == 0,
            F.struct(
                (F.col("doc_id") + NEAR_OFFSET).alias("doc_id"),
                F.concat(F.col("text"), F.lit(NEAR_SUFFIX)).alias("text"),
            ),
        ),
    )
    ex = documents.select("lang", "source", F.explode(variants).alias("v")).where(
        F.col("v").isNotNull()
    )
    return ex.select(
        F.col("v.doc_id").alias("doc_id"),
        F.col("v.text").alias("text"),
        "lang",
        "source",
    )


def norm_corpus(documents: DataFrame) -> DataFrame:
    """Base ∪ renormalizable copies — input for normalized dedup. Same
    single-scan variant-explode construction as ``dup_corpus``."""
    variants = F.array(
        F.struct(F.col("doc_id"), F.col("text")),
        F.when(
            F.col("doc_id") % NORM_MOD == 0,
            F.struct(
                (F.col("doc_id") + NORM_OFFSET).alias("doc_id"),
                F.concat(
                    F.lit("  "),
                    F.regexp_replace(F.upper(F.col("text")), " ", "  "),
                ).alias("text"),
            ),
        ),
    )
    ex = documents.select("lang", "source", F.explode(variants).alias("v")).where(
        F.col("v").isNotNull()
    )
    return ex.select(
        F.col("v.doc_id").alias("doc_id"),
        F.col("v.text").alias("text"),
        "lang",
        "source",
    )


DUP_CORPUS_SQL = f"""
corpus AS (
    SELECT doc_id, text, lang, source FROM documents
    UNION ALL
    SELECT doc_id + {EXACT_OFFSET}, text, lang, source
    FROM documents WHERE doc_id % {EXACT_MOD} = 0
    UNION ALL
    SELECT doc_id + {NEAR_OFFSET}, text || '{NEAR_SUFFIX}', lang, source
    FROM documents WHERE doc_id % {NEAR_MOD} = 0
)
"""

NORM_CORPUS_SQL = f"""
corpus AS (
    SELECT doc_id, text, lang, source FROM documents
    UNION ALL
    SELECT doc_id + {NORM_OFFSET},
           '  ' || replace(upper(text), ' ', '  '), lang, source
    FROM documents WHERE doc_id % {NORM_MOD} = 0
)
"""
