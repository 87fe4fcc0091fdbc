"""Schema resolution without a Spark job.

Fixture loads read the single parquet footer on the driver and convert
it with Spark's own converter; lake reads take each version's stored
``_SCHEMA.json``. Both hand the schema to ``spark.read.schema`` so
building the frame runs no job, and both must resolve exactly the
schema that Spark's inference would.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from ad_data_lake_spark import incremental
from ad_data_lake_spark.sources import tables
from ad_data_lake_spark.sources.tables import TABLE_NAMES, load_table
from tests.conftest import SF_SMOKE

SF_FIXTURES = "/root/testdata/sf0.01"


def _jobs(spark, fn):
    """Run ``fn`` and return (its result, the number of Spark jobs it
    started). Drains the listener bus on both sides so no job start is
    still in flight when the status store is read."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    bus.waitUntilEmpty()
    ids = tracker.getJobIdsForGroup(None)
    before = max(ids) if ids else -1
    out = fn()
    bus.waitUntilEmpty()
    return out, len([j for j in tracker.getJobIdsForGroup(None) if j > before])


def _inferred(spark, path):
    """The schema Spark's inference job resolves for one fixture file,
    under the session confs ``load_table`` pins."""
    return tables._normalize_ntz(spark.read.parquet(path)).schema


# ---------------------------------------------------------------------------
# fixtures
# ---------------------------------------------------------------------------


def test_fixture_schema_equals_inference_and_runs_no_job(spark):
    frames, jobs = _jobs(
        spark, lambda: {t: load_table(spark, t, SF_FIXTURES) for t in TABLE_NAMES}
    )
    assert jobs == 0
    for name, df in frames.items():
        assert df.schema == _inferred(spark, f"{SF_FIXTURES}/{name}.parquet"), name
        # NTZ -> LTZ contract: naive parquet timestamps read as LTZ
        assert "timestamp_ntz" not in dict(df.dtypes).values(), name
    assert dict(frames["orders"].dtypes)["o_orderdate"] == "timestamp"
    assert dict(frames["events"].dtypes)["ts"] == "timestamp"
    # the footer-resolved read returns the same rows as the inferred one
    ref = spark.read.parquet(f"{SF_FIXTURES}/events.parquet")
    assert frames["events"].exceptAll(ref).count() == 0
    assert frames["events"].count() == ref.count()


def test_events_nanos_are_truncated_to_micros(spark, tmp_path):
    """ns -> µs contract on a TIMESTAMP(NANOS) events file: the footer
    schema is taken after ``nanosAsLong`` is set, so ts resolves as a
    long (as inference would) and is truncated to microseconds."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999, 0]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    df, jobs = _jobs(spark, lambda: load_table(spark, "events", str(tmp_path)))
    assert jobs == 0
    assert dict(df.dtypes)["ts"] == "timestamp"
    raw = spark.read.parquet(str(tmp_path / "events.parquet"))
    assert dict(raw.dtypes)["ts"] == "bigint"
    assert tables._footer_schema(spark, str(tmp_path / "events.parquet")) == raw.schema
    got = [r.ts for r in df.orderBy("event_id").collect()]
    epoch = dt.datetime(1970, 1, 1)
    want = [epoch + dt.timedelta(microseconds=n // 1000) for n in ns]
    assert [g.replace(tzinfo=None) for g in got] == want


def test_symlinked_fixture_reads_the_same(spark, tmp_path):
    """The replica layout of ``scripts/bench_scale.py`` symlinks the
    tables it does not rewrite; the footer is read through the link."""
    for name in TABLE_NAMES:
        os.symlink(f"{SF_FIXTURES}/{name}.parquet", tmp_path / f"{name}.parquet")
    for name in ("orders", "events", "region"):
        linked, jobs = _jobs(spark, lambda: load_table(spark, name, str(tmp_path)))
        assert jobs == 0
        direct = load_table(spark, name, SF_FIXTURES)
        assert linked.schema == direct.schema
        assert linked.count() == direct.count()


def test_directory_table_keeps_plain_parquet_read(spark, tmp_path):
    """A table directory (the partitioned production layout) is read by
    ``spark.read.parquet``, not by the single-footer path."""
    region = load_table(spark, "region", SF_FIXTURES)
    region.write.parquet(str(tmp_path / "region.parquet"))
    assert tables._footer_schema(spark, str(tmp_path / "region.parquet")) is None
    got = load_table(spark, "region", str(tmp_path))
    assert got.schema == region.schema
    assert sorted(got.collect()) == sorted(region.collect())


def test_trivial_registry_row_runs_one_job(spark):
    from ad_data_lake_spark.queries import REGISTRY

    rows, jobs = _jobs(
        spark, lambda: REGISTRY["scan_project"].fn(spark, SF_FIXTURES).collect()
    )
    assert rows
    assert jobs == 1


# ---------------------------------------------------------------------------
# lake versions
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def base(spark):
    return load_table(spark, "events", SF_SMOKE).select(
        "event_id", "ts", "user_id", "value"
    )


def _two_versions(spark, base, target):
    incremental.merge_upsert(spark, target, base, "event_id", "ts", "value")
    upd = base.where(F.col("event_id") % 7 == 0).select(
        "event_id",
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
        "user_id",
        F.lit(-1.0).alias("value"),
    )
    incremental.merge_upsert(spark, target, upd, "event_id", "ts", "value")
    return upd.count()


def test_lake_read_builds_run_no_job(spark, base, tmp_path):
    target = str(tmp_path / "t")
    n_upd = _two_versions(spark, base, target)
    (cur, prev), jobs = _jobs(
        spark,
        lambda: (
            incremental.read_merged(spark, target),
            incremental.read_version(spark, target, 1),
        ),
    )
    assert jobs == 0
    assert cur.columns == prev.columns == ["event_id", "ts", "user_id", "value"]
    assert cur.where(F.col("value") == -1.0).count() == n_upd
    assert prev.where(F.col("value") == -1.0).count() == 0
    assert cur.count() == prev.count() == base.count()


def test_version_without_stored_schema_raises_naming_the_path(spark, base, tmp_path):
    target = str(tmp_path / "t")
    incremental.merge_upsert(spark, target, base, "event_id", "ts", "value")
    path = os.path.join(
        target, incremental._state(target).current, incremental._SCHEMA_FILE
    )
    os.remove(path)
    with pytest.raises(ValueError, match=re.escape(path)):
        incremental.read_merged(spark, target)
    # the write path resolves the touched buckets the same way
    with pytest.raises(ValueError, match=re.escape(path)):
        incremental.merge_upsert(spark, target, base.limit(3), "event_id", "ts", "value")


def test_bucket_type_disagreeing_with_stored_schema_fails_loudly(spark, base, tmp_path):
    """A part file whose column type disagrees with ``_SCHEMA.json``
    must fail the scan, not read the column as NULL."""
    from pyspark.sql.types import StringType, StructField, StructType

    target = str(tmp_path / "t")
    incremental.merge_upsert(spark, target, base, "event_id", "ts", "value")
    vdir = os.path.join(target, incremental._state(target).current)
    stored = incremental._stored_schema(vdir)
    wrong = StructType(
        [
            StructField(f.name, StringType()) if f.name == "value" else f
            for f in stored.fields
        ]
    )
    incremental._save_schema(vdir, wrong)
    # select the column itself: a pushed-down IS NULL filter can be
    # answered from row-group statistics without decoding it
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        incremental.read_merged(spark, target).select("value").collect()


def test_merge_into_absent_buckets_keeps_stored_columns(spark, base, tmp_path):
    """A merge whose keys land only in buckets the current version does
    not have reads no part file, yet the new version's stored schema
    must still carry every stored column: its hardlinked buckets hold
    them."""
    target = str(tmp_path / "t")
    two = base.orderBy("event_id").limit(2).withColumn("status", F.lit("old"))
    incremental.merge_upsert(spark, target, two, "event_id", "ts", "value", n_buckets=8)
    vdir = os.path.join(target, incremental._state(target).current)
    present = {int(d.split("=", 1)[1]) for d in os.listdir(vdir) if d.startswith("_mb=")}
    probe = spark.range(1000, 1200).withColumn(
        "b", incremental._bucket_expr("id", 8)
    )
    fresh_key = probe.where(~F.col("b").isin(*present)).first().id
    new = two.limit(1).drop("status").withColumn("event_id", F.lit(fresh_key))

    incremental.merge_upsert(spark, target, new, "event_id", "ts", "value")
    got = {r.event_id: r.status for r in incremental.read_merged(spark, target).collect()}
    assert len(got) == 3
    assert got[fresh_key] is None
    assert sorted(v for v in got.values() if v is not None) == ["old", "old"]


def test_lake_stats_flags_columns_missing_from_stored_schema(spark, base, tmp_path):
    """A version whose ``_SCHEMA.json`` lacks a column its bucket files
    carry (what an earlier release's merge into absent buckets could
    leave) reads without that column; ``lake_stats`` names it in
    ``schema_gaps`` from the footers, without a Spark job."""
    target = str(tmp_path / "t")
    wide = base.withColumn("status", F.lit("old"))
    incremental.merge_upsert(spark, target, wide, "event_id", "ts", "value")
    assert incremental.lake_stats(target)["schema_gaps"] == []

    vdir = os.path.join(target, incremental._state(target).current)
    incremental._save_schema(vdir, base.schema)  # drop "status" from it
    assert "status" not in incremental.read_merged(spark, target).columns
    stats, jobs = _jobs(spark, lambda: incremental.lake_stats(target))
    assert jobs == 0
    assert stats["schema_gaps"] == ["status"]
