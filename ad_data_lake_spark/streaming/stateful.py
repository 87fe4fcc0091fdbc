"""Custom stateful streaming operator: continuous per-user frequency
capping via ``applyInPandasWithState`` (SURVEY.md §2.9/§2.10).

The batch cap (``operators.sessions.frequency_cap``) ranks a bounded
table; in production impressions arrive continuously and the cap must
hold ACROSS micro-batches — a per-user counter that outlives any one
batch. That is exactly Spark's arbitrary-stateful-processing surface:
group the stream by user, keep one integer of state per user, emit each
impression with its running number and capped flag.

Scale notes:
- state is one long per user key — the state store stays tiny at any
  impression volume, no watermark needed for correctness (the cap is
  monotone; a timeout could expire idle users to bound the store);
- the groupBy(user_id) state shuffle is the same key layout as the
  batch windows, so a user_id-bucketed fact co-locates both;
- rows within a micro-batch are materialized and ordered ONCE inside
  the function (a user's rows can span multiple Arrow chunks, which
  carry no order guarantee — per-chunk sorting would misnumber), so
  stream and batch agree exactly whenever event-time arrival respects
  batch boundaries. A user's per-batch row count must fit in one
  worker's memory; at ad-impression rates that is thousands of rows,
  far below Arrow chunk sizing concerns.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ad_data_lake_spark.operators.sessions import FREQUENCY_CAP

_OUT_SCHEMA = (
    "event_id bigint, user_id bigint, ts timestamp, impression_no int, capped boolean"
)
_STATE_SCHEMA = "seen int"


def _cap_fn(cap: int):
    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (seen,) = state.get if state.exists else (0,)
        # Materialize the whole group first: one user's rows can span
        # several Arrow chunks, and numbering chunks independently after
        # per-chunk sorts would diverge from the batch frequency_cap.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
            n = len(pdf)
            nums = pd.RangeIndex(seen + 1, seen + n + 1).to_numpy()
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"].to_numpy(),
                    "user_id": pdf["user_id"].to_numpy(),
                    "ts": pdf["ts"].to_numpy(),
                    "impression_no": nums.astype("int32"),
                    "capped": nums > cap,
                }
            )
            seen += n
        state.update((seen,))

    return fn


def streaming_frequency_cap(stream_events: DataFrame, cap: int = FREQUENCY_CAP) -> DataFrame:
    """readStream-side frequency cap: one state row per user, updated
    per micro-batch, impressions emitted with running number + flag."""
    return (
        stream_events.select("event_id", "user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _cap_fn(cap),
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_sessionize(
    stream_events: DataFrame, gap_minutes: int | None = None
) -> DataFrame:
    """Native streaming sessionization: the SAME session_window
    aggregate as the batch operator (operators/sessions.py::
    sessionize_native), plus a watermark so closed sessions emit and
    their state evicts. State per open session only — the operator a
    lake needs to maintain live session rollups at event-time scale."""
    from pyspark.sql import functions as F

    from ad_data_lake_spark.operators import sessions as S

    gap = gap_minutes if gap_minutes is not None else S.SESSION_GAP_MINUTES
    sw = F.session_window("ts", f"{gap} minutes")
    return (
        stream_events.withWatermark("ts", "1 day")
        .groupBy(sw.alias("sw"), F.col("user_id"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
    )


# ---------------------------------------------------------------------------
# Batchwise frequency cap (r12): the foreachBatch/JVM alternative to
# applyInPandasWithState, measured A/B against it (VERDICT r11 ask #6).
# ---------------------------------------------------------------------------


def streaming_frequency_cap_batchwise(
    stream_events: DataFrame,
    results_dir: str,
    state_dir: str,
    cap: int = FREQUENCY_CAP,
):
    """The same per-user running impression counter computed ENTIRELY
    JVM-side per micro-batch — zero Python in the row path, versus
    ``streaming_frequency_cap``'s per-key Arrow state round trips:

    - within the batch: ``row_number() OVER (PARTITION BY user ORDER BY
      ts, event_id)`` (window functions are legal here — foreachBatch
      hands us a BATCH DataFrame);
    - across batches: a tiny per-user offsets table (``seen`` counts),
      versioned one parquet snapshot per batch id. Replayed batches
      (at-least-once trigger semantics) are exactly-once by
      construction: results land at ``batch=<id>`` (overwrite =
      idempotent), the state read always uses the latest snapshot
      STRICTLY BEFORE this batch id, and a crashed attempt's partial
      ``v<id>`` snapshot is simply overwritten by the retry.

    ORDERING ASSUMPTION (shared with ``streaming_frequency_cap``, and
    with any cross-batch counter): impression numbers equal the global
    ``row_number`` oracle only when micro-batches deliver each user's
    events in non-decreasing ``(ts, event_id)`` order ACROSS batches —
    true for a file source replaying time-ordered files (the fixture,
    and any event-time-partitioned ingest), NOT for an out-of-order
    source. Late rows still get capped (the counter is monotone); only
    the per-impression NUMBERING diverges from the batch oracle.

    Scale trade-off (the reason BOTH forms ship): each batch rewrites
    the FULL offsets table — O(total distinct users) per batch, perfect
    while the key space is bounded or ∝ batch size, pathological for
    an unbounded key space (1e9 users × per-minute batches), where the
    state store's O(touched keys) RocksDB updates win asymptotically.
    The A/B walls live in BASELINE.md's streaming table.

    Returns the started streaming query (caller awaits termination and
    reads ``results_dir``)."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    def _latest_state(spark, before_id: int):
        try:
            versions = [
                int(d[1:])
                for d in os.listdir(state_dir)
                if d.startswith("v")
                and d[1:].isdigit()
                and int(d[1:]) < before_id
                and os.path.exists(os.path.join(state_dir, d, "_SUCCESS"))
            ]
        except FileNotFoundError:
            return None
        if not versions:
            return None
        return spark.read.parquet(
            os.path.join(state_dir, f"v{max(versions)}")
        )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        events = batch_df.select("event_id", "user_id", "ts")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        numbered = events.withColumn("rn", F.row_number().over(w))
        prev = _latest_state(spark, batch_id)
        if prev is not None:
            # offsets are one row per user ever seen — small relative
            # to the fact; let AQE pick broadcast vs shuffle join
            joined = numbered.join(prev, "user_id", "left").na.fill(
                {"seen": 0}
            )
        else:
            joined = numbered.withColumn("seen", F.lit(0))
        n = (F.col("rn") + F.col("seen")).cast("int")
        out = joined.select(
            "event_id",
            "user_id",
            "ts",
            n.alias("impression_no"),
            (n > cap).alias("capped"),
        )
        out.write.mode("overwrite").parquet(
            os.path.join(results_dir, f"batch={batch_id}")
        )
        delta = events.groupBy("user_id").agg(F.count("*").alias("d"))
        if prev is not None:
            new_state = (
                prev.join(delta, "user_id", "full")
                .select(
                    "user_id",
                    (
                        F.coalesce("seen", F.lit(0))
                        + F.coalesce("d", F.lit(0))
                    ).alias("seen"),
                )
            )
        else:
            new_state = delta.select("user_id", F.col("d").alias("seen"))
        new_state.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v{batch_id}")
        )
        # retention: the read path needs only the newest snapshot; keep
        # one prior for a replayed batch's strictly-before read
        import shutil

        versions = sorted(
            int(d[1:])
            for d in os.listdir(state_dir)
            if d.startswith("v") and d[1:].isdigit()
        )
        for v in versions[:-2]:
            shutil.rmtree(os.path.join(state_dir, f"v{v}"), ignore_errors=True)

    return (
        stream_events.writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
