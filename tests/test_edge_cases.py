"""Regression tests for round-3 edge-case fixes (ADVICE.md round 2):

- stateful frequency cap must number correctly when one user's rows
  span multiple Arrow chunks inside a micro-batch;
- compact_table must preserve a Hive partition layout (and pruning);
- flight_window_rollup must keep events in the partial final day of a
  sub-day-aligned flight;
- exploded_shingles must emit no rows (not crash) for documents
  shorter than the shingle width.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ad_data_lake_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, "events", SF_SMOKE)


def _table_hash(df) -> int:
    cols = sorted(df.columns)
    return (
        df.select(F.xxhash64(*cols).alias("h"))
        .agg(F.expr("bit_xor(h)").alias("t"))
        .collect()[0]
        .t
    )


def test_stateful_cap_correct_across_arrow_chunks(spark, events, tmp_path):
    """Force tiny Arrow chunks (4 rows) so every user's group spans many
    chunks within the single micro-batch: impression numbering must
    still match the batch window exactly (per-chunk numbering would
    scramble it)."""
    from ad_data_lake_spark.operators.sessions import frequency_cap
    from ad_data_lake_spark.streaming import run_available_now
    from ad_data_lake_spark.streaming.stateful import streaming_frequency_cap

    slim = events.select("event_id", "user_id", "ts")
    src = str(tmp_path / "chunked_cap_src")
    slim.write.mode("overwrite").parquet(src)

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, "10000")
    spark.conf.set(key, "4")
    try:
        stream = spark.readStream.schema(slim.schema).parquet(src)
        out = run_available_now(
            streaming_frequency_cap(stream), "cap_chunked", output_mode="append"
        )
    finally:
        spark.conf.set(key, prev)

    batch = frequency_cap(events).select(
        "event_id", "user_id", "ts", "impression_no", "capped"
    )
    assert _table_hash(out) == _table_hash(batch)


def test_compact_preserves_partition_layout(spark, events, tmp_path):
    """Compacting a snapshot_date-partitioned table must keep the
    partition directories (pruning intact) and the exact content."""
    from ad_data_lake_spark.layout import compact_table

    path = str(tmp_path / "part_frag")
    daily = events.select("event_id", "ts", "user_id", "value").withColumn(
        "snapshot_date", F.to_date("ts").cast("string")
    )
    # fragment: many small files inside each partition dir
    daily.repartition(16).write.partitionBy("snapshot_date").parquet(path)
    h_before = _table_hash(spark.read.parquet(path))
    dirs_before = sorted(d for d in os.listdir(path) if d.startswith("snapshot_date="))
    n_files_before = sum(
        1 for _r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )

    n_after = compact_table(spark, path, target_bytes=8 << 20)

    dirs_after = sorted(d for d in os.listdir(path) if d.startswith("snapshot_date="))
    assert dirs_after == dirs_before  # layout survived — not flattened
    assert n_after < n_files_before
    back = spark.read.parquet(path)
    assert _table_hash(back) == h_before
    # pruning still possible: one partition reads a strict subset
    one = back.where(F.col("snapshot_date") == dirs_after[0].split("=", 1)[1])
    assert 0 < one.count() < back.count()


def test_flight_rollup_counts_partial_final_day(spark, events):
    """A flight ending at 12:00 (sub-day) must still count events in
    [last-midnight, 12:00) — the final partial day needs a bin row."""
    from ad_data_lake_spark.operators.temporal import flight_window_rollup

    flights = spark.createDataFrame(
        [(0,)], "flight_id long"
    ).select(
        "flight_id",
        F.lit("2024-01-10 00:00:00").cast("timestamp").alias("flight_start"),
        F.lit("2024-01-12 12:00:00").cast("timestamp").alias("flight_end"),
    )
    got = flight_window_rollup(events, flights)
    naive = (
        events.join(
            flights,
            (F.col("ts") >= F.col("flight_start")) & (F.col("ts") < F.col("flight_end")),
        )
        .groupBy("flight_id", "flight_start", "flight_end")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    assert _table_hash(got) == _table_hash(naive)
    # the partial day is non-empty in the fixture, so the bug would bite
    partial = events.where(
        (F.col("ts") >= F.lit("2024-01-12 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-12 12:00:00").cast("timestamp"))
    )
    assert partial.count() > 0


def test_exploded_shingles_short_docs_yield_none(spark):
    """Sub-n-token documents emit no shingle rows — same contract as
    the DuckDB oracle's range()."""
    from ad_data_lake_spark.llm.text import exploded_shingles

    df = spark.createDataFrame(
        [(1, "one two"), (2, "solo"), (3, ""), (4, "a b c d")], "doc_id long, text string"
    )
    rows = exploded_shingles(df, n=3).orderBy("s").collect()
    assert [(r.doc_id, r.s) for r in rows] == [(4, "a b c"), (4, "b c d")]


def test_funnel_counts_monotone_and_strictly_ordered(spark):
    """Step counts must be non-increasing, and the fold must enforce
    STRICT ordering: a click at exactly the first view's timestamp
    must not advance the funnel."""
    from ad_data_lake_spark.operators.marketing import funnel_conversion
    from ad_data_lake_spark.sources.tables import load_table
    from tests.conftest import SF_ORACLE

    events = load_table(spark, "events", SF_ORACLE)
    rows = {r.step_no: r for r in funnel_conversion(events).collect()}
    assert rows[1].n_users >= rows[2].n_users >= rows[3].n_users > 0
    assert rows[1].conv_from_prev is None
    # synthetic strictness probe: view and click at the same instant
    probe = spark.createDataFrame(
        [(1, 7, "2024-01-01 00:00:00", "view", 0.0),
         (2, 7, "2024-01-01 00:00:00", "click", 0.0),
         (3, 7, "2024-01-01 00:00:01", "click", 0.0)],
        "event_id long, user_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r.step_no: r.n_users for r in funnel_conversion(probe).collect()}
    assert out[1] == 1 and out[2] == 1 and out[3] == 0  # only the later click counts


def test_linear_attribution_matches_pair_join(spark):
    """The range-window count must equal the interval-join pair count
    per conversion (the formulation the streaming twin uses), and the
    credit must split the conversion's value equally."""
    from ad_data_lake_spark.operators.marketing import linear_attribution
    from ad_data_lake_spark.sources.tables import load_table
    from tests.conftest import SF_ORACLE

    events = load_table(spark, "events", SF_ORACLE)
    out = {r.conv_event_id: r for r in linear_attribution(events).collect()}
    c = events.where(F.col("event_type") == "purchase").alias("c")
    i = events.where(F.col("event_type") == "click").alias("i")
    pairs = (
        c.join(
            i,
            (F.col("c.user_id") == F.col("i.user_id"))
            & (F.col("i.ts") >= F.col("c.ts") - F.expr("INTERVAL 3 HOURS"))
            & (F.col("i.ts") < F.col("c.ts")),
            "left",
        )
        .groupBy(F.col("c.event_id").alias("eid"), F.col("c.value").alias("v"))
        .agg(F.count(F.col("i.event_id")).alias("n"))
        .collect()
    )
    assert len(pairs) == len(out)
    n_with = 0
    for r in pairs:
        o = out[r.eid]
        assert o.n_touches == r.n
        if r.n > 0:
            n_with += 1
            assert o.credit_per_touch == round(r.v / r.n, 4)
        else:
            assert o.credit_per_touch is None
    assert 0 < n_with


def test_cohort_week_zero_holds_full_cohort(spark):
    """Every user is active in their own cohort week, so offset 0 must
    count the whole cohort and every offset must be non-negative."""
    from ad_data_lake_spark.operators.marketing import cohort_retention
    from ad_data_lake_spark.sources.tables import load_table
    from tests.conftest import SF_ORACLE

    events = load_table(spark, "events", SF_ORACLE)
    rows = cohort_retention(events).collect()
    assert rows and all(r.week_offset >= 0 for r in rows)
    zero = {r.cohort_week: r.n_active_users for r in rows if r.week_offset == 0}
    sizes = {
        r.cohort_week: r.n
        for r in events.groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
        .groupBy("cohort_week")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert zero == sizes


def test_metric_anomalies_and_pacing_shapes(spark):
    """Anomaly flags must be rare (the fixture day-series is stable),
    z-values must be centered (mean ≈ 0 per type), and pacing must be
    ~1 once the trailing window fills."""
    from ad_data_lake_spark.operators.marketing import metric_anomalies, spend_pacing
    from ad_data_lake_spark.sources.tables import load_table
    from tests.conftest import SF_ORACLE

    events = load_table(spark, "events", SF_ORACLE)
    rows = metric_anomalies(events).collect()
    assert rows
    n_anom = sum(1 for r in rows if r.is_anomaly)
    assert n_anom < 0.1 * len(rows)
    for r in rows:
        assert r.is_anomaly == (abs(r.z_value) > 2.0)
    pace = spend_pacing(events).collect()
    assert pace
    for r in pace:
        assert r.pace == round(r.spend / r.trailing_avg, 4)
    # per type, pace must average ~1 over the series (it is spend
    # relative to its own trailing mean — bursty days cancel out)
    by_type: dict = {}
    for r in pace:
        by_type.setdefault(r.event_type, []).append(r.pace)
    for t, ps in by_type.items():
        assert 0.5 < sum(ps) / len(ps) < 2.0, (t, sum(ps) / len(ps))


def test_embedding_drift_matches_numpy(spark):
    """The per-label half-centroid cosine must equal a numpy
    recomputation over the collected vectors to the 6-dp contract —
    the aggregation (64 per-dim avgs + fold cosine) verified
    end-to-end. (On the isotropic fixture the VALUE is sample noise —
    see the operator docstring — so the test pins arithmetic, not a
    physical no-drift claim.)"""
    import numpy as np

    from ad_data_lake_spark.llm.similarity import embedding_drift
    from ad_data_lake_spark.sources.tables import load_table
    from tests.conftest import SF_ORACLE

    emb = load_table(spark, "embeddings", SF_ORACLE)
    rows = {r.label: r for r in embedding_drift(emb).collect()}
    assert rows
    data = emb.select("label", "vec_id", "embedding").collect()
    by = {}
    for r in data:
        by.setdefault((r.label, r.vec_id % 2 == 0), []).append(
            np.array(r.embedding, dtype=np.float64)
        )
    for label, row in rows.items():
        a = np.mean(by[(label, True)], axis=0)
        b = np.mean(by[(label, False)], axis=0)
        want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(row.centroid_cosine - round(want, 6)) <= 1e-6
        assert row.n_even == len(by[(label, True)])
        assert row.n_odd == len(by[(label, False)])


def test_dynamic_json_sanitize_rules(spark):
    """Rule-level contract of the dynamic (schema-free) sanitizer:
    unknown keys survive, empties drop, digit strings autocast with
    zeros stripped, id-like keys never autocast, collections
    normalize, keys at every level up to SANITIZE_DEPTH (3) get the
    scalar rules, objects BELOW the cap and non-collection arrays pass
    through verbatim, and INVALID JSON passes through unchanged (drift
    never kills the batch)."""
    from pyspark.sql import functions as F

    from ad_data_lake_spark.functions.dynamic_json import sanitize_json_fragment

    rows = [
        ('{"zz_unknown":"42","a_id":"042","gone":"  ","keep":"x"}',),
        ('{"special_ad_categories":["  a ","","b"],"other":[" a ",""]}',),
        ('{"outer":{"mid":{"pad":"007","drop":"","x_id":"01","d4":{"n":"007"}}}}',),
        ("not json at all",),
        ('{"neg":"-7","dec":" -1.50 ","exotic":"1e3","bool":"false"}',),
    ]
    df = spark.createDataFrame(rows, "payload string")
    got = [
        r.s
        for r in df.select(
            sanitize_json_fragment(F.col("payload")).alias("s")
        ).collect()
    ]
    assert got[0] == '{"a_id":"042","keep":"x","zz_unknown":42}'
    assert got[1] == '{"other":[" a ",""],"special_ad_categories":["a","b"]}'
    # depth 3: outer, mid, AND mid's scalar children sanitized (pad
    # autocast, drop dropped, x_id kept string); the depth-4 object d4
    # passes verbatim — the cap boundary, one level deeper than r07.
    assert got[2] == '{"outer":{"mid":{"d4":{"n":"007"},"pad":7,"x_id":"01"}}}'
    assert got[3] == "not json at all"
    assert got[4] == '{"bool":false,"dec":-1.50,"exotic":"1e3","neg":-7}'


def test_dynamic_json_depth_generator_generalizes(spark):
    """The r8 verdict's ask #5: regenerate BOTH engines at depth=4 from
    the same constant and hash-match on a depth-4-drifted payload —
    proving the lockstep GENERATOR generalizes, not just the shipped
    depth-3 constant (which this test does not touch). Drift planted at
    depth 4: a padded int, an empty-to-drop, an id-like key, a decimal;
    the depth-5 object must pass through verbatim (the new cap
    boundary)."""
    import duckdb
    import pandas as pd

    from ad_data_lake_spark.functions.dynamic_json import (
        SANITIZE_DEPTH,
        sanitize_json_fragment,
    )
    from ad_data_lake_spark.queries import dynj_rule_sql
    from tests.oracle_compare import assert_frames_match

    assert SANITIZE_DEPTH == 3  # shipped row untouched; we test depth 4
    payloads = [
        (
            i,
            '{"event_id":%d,"spend":" %d.25","campaign_id":"c%d","pad":"007",'
            '"flag":"true","note":"%s",'
            '"meta":{"adset_id":"%d","empty":"",'
            '"deep":{"z":"%d","pad":"042",'
            '"deeper":{"q":"1","asset_id":"9","gone":"","ratio":"2.50",'
            '"bottom":{"keep":"01"}}}}}'
            % (i, i % 900, i, "" if i % 5 == 0 else "x y", i, i % 9),
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(payloads, "event_id long, payload string")
    spark_pdf = (
        df.select(
            "event_id",
            "payload",
            sanitize_json_fragment(F.col("payload"), depth=4).alias("sanitized"),
        )
        .toPandas()
    )
    con = duckdb.connect()
    con.register("fixture", pd.DataFrame(payloads, columns=["event_id", "payload"]))
    duck_pdf = con.execute(
        "WITH src AS (SELECT event_id, payload FROM fixture),\n"
        + dynj_rule_sql(4)
    ).df()
    assert_frames_match(spark_pdf, duck_pdf, "dynj_depth4")

    # the depth-4 drift actually got the rules (not a vacuous match)
    s = spark_pdf.sort_values("event_id")["sanitized"].iloc[1]
    assert '"q":1' in s and '"asset_id":"9"' in s and '"ratio":2.50' in s
    assert '"gone"' not in s
    assert '"bottom":{"keep":"01"}' in s  # depth-5: verbatim at the new cap
    # and at the SHIPPED depth the same payload passes 'deeper' through
    d3 = (
        df.select(sanitize_json_fragment(F.col("payload")).alias("s"))
        .limit(1)
        .collect()[0]
        .s
    )
    assert '"gone":""' in d3  # depth-4 keys untouched at depth 3


def test_api_pages_source_contract(spark, tmp_path):
    """DataSource contract edges: schema is mandatory (page envelopes
    are not self-describing), missing path errors, an empty page dir
    yields an empty frame, and partition count == page count."""
    import pytest as _pytest

    from ad_data_lake_spark.sources import api_source

    api_source.register(spark)
    out = str(tmp_path / "pages")
    rows = [{"a": i, "b": f"x{i}"} for i in range(25)]
    n = api_source.write_pages(rows, out, page_size=10)
    assert n == 3
    df = spark.read.format(api_source.FORMAT_NAME).schema("a long, b string").load(out)
    assert df.count() == 25
    assert df.rdd.getNumPartitions() == 3  # partitions ARE the pages
    # column subset projects through the tuple reader
    assert {r.b for r in df.select("b").limit(3).collect()} <= {f"x{i}" for i in range(25)}
    empty_dir = str(tmp_path / "empty")
    import os as _os

    _os.makedirs(empty_dir)
    assert (
        spark.read.format(api_source.FORMAT_NAME).schema("a long").load(empty_dir).count()
        == 0
    )
    with _pytest.raises(Exception):
        spark.read.format(api_source.FORMAT_NAME).schema("a long").load().collect()


def test_round7_breadth_ops_on_degenerate_inputs(spark):
    """The round-7 breadth operators must survive empty and minimal
    corpora: empty frames yield empty results (not schema errors or
    crashes), a single-document corpus is handled by every per-corpus
    aggregate (vocab, first-owner window, components, serpentine deal),
    and the int8 paths tolerate a zero vector (eps-floored scale)."""
    from pyspark.sql import Row

    from ad_data_lake_spark.llm import curation as CU
    from ad_data_lake_spark.llm import dedup as D
    from ad_data_lake_spark.llm import similarity as SIM
    from ad_data_lake_spark.llm.text import rare_token_scrub

    empty = spark.createDataFrame([], "doc_id long, text string")
    one = spark.createDataFrame([Row(doc_id=1, text="alpha beta gamma delta")])

    assert D.dedup_keep_best(empty).count() == 0
    assert D.novelty_profile(empty).count() == 0
    assert CU.shard_assign(empty).count() == 0
    assert rare_token_scrub(empty).count() == 0

    assert D.dedup_keep_best(one).count() == 0  # no pairs -> no clusters
    prof = D.novelty_profile(one).collect()
    assert len(prof) == 1 and prof[0]["novelty_ratio"] == 1.0
    sh = CU.shard_assign(one).collect()
    assert len(sh) == 1 and sh[0]["shard"] == 0
    sc = rare_token_scrub(one).collect()
    assert len(sc) == 1 and sc[0]["n_scrubbed"] == 0  # every token in top-K

    # zero vector: eps floor keeps codes finite and all-zero; the row
    # simply never wins a ranking
    zemb = spark.createDataFrame(
        [Row(vec_id=0, embedding=[1.0] * 4), Row(vec_id=1, embedding=[0.0] * 4),
         Row(vec_id=2, embedding=[0.5] * 4)]
    )
    rows = SIM.topk_int8(zemb, n_queries=1, k=2).collect()
    assert len(rows) == 2
    assert rows[0]["vec_id"] == 2 and rows[0]["cosine_sim"] == 1.0
    assert rows[1]["vec_id"] == 1 and rows[1]["cosine_sim"] == 0.0  # not NaN
