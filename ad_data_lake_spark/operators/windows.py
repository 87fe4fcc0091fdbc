"""Window-function operators (SURVEY.md §2.5).

The reference has no explicit window functions, but two places carry
window *semantics*: the latest-snapshot-per-entity view implied by daily
re-extraction into dated folders (reference src/main_extractor.py:358,363)
and per-user frequency (reference src/configs/fields_schema.py:219).

Scale note: both windows partition by a high-cardinality key (entity id /
user id), so the shuffle is well-spread; no global ordering anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_snapshot(events: DataFrame) -> DataFrame:
    """W1: latest row per entity — row_number over (id, desc updated_time)
    with a deterministic tiebreak, keep rank 1. This is the "current
    state" silver view over append-only bronze snapshots.
    """
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "ts", "value")
    )


def last_wins_dedupe(df: DataFrame, key: str, order_col: str, tiebreak: str) -> DataFrame:
    """A7: last-wins dedupe by id. The reference gets this by dict
    overwrite in arrival order (reference
    src/extractors/api_extractor.py:144-173); Spark needs a deterministic
    rule: max(order_col), then max(tiebreak).
    """
    w = Window.partitionBy(key).orderBy(F.desc(order_col), F.desc(tiebreak))
    return df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")


def last_wins_events(events: DataFrame) -> DataFrame:
    """A7 golden query: plant newer duplicates for every 10th event id
    (ts +1h, value +1), then last-wins dedupe keyed on event_id with
    (ts, value) recency — the planted rows must win everywhere."""
    dup = (
        events.where(F.col("event_id") % 10 == 0)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
        .withColumn("value", F.col("value") + 1)
    )
    corpus = events.select("event_id", "ts", "user_id", "event_type", "value").unionByName(
        dup.select("event_id", "ts", "user_id", "event_type", "value")
    )
    return last_wins_dedupe(corpus, "event_id", "ts", "value")


def per_user_frequency(events: DataFrame) -> DataFrame:
    """W2: per-user event frequency as a plain aggregate — one shuffle
    with map-side partial combine. The window form
    (``count().over(partitionBy)`` + distinct) gives the same result,
    but at 100× scale it sorts every event row inside each user
    partition and then distincts in a second shuffle.
    """
    return events.groupBy("user_id").agg(F.count("*").alias("user_events"))
