"""Table loaders over the driver's parquet fixtures.

One parquet file per table (TESTDATA.md). At 100 TB these become
partitioned table roots (date-partitioned parquet/Delta); the loader
API stays the same, so every operator downstream is storage-agnostic.

The reference's equivalent surface is its paged-GET scans
(reference src/main_extractor.py:364-371 campaigns, :79-89 adsets,
:131-141 ads) — pagination disappears into source partitioning here.
"""

from __future__ import annotations

import functools
import json
import os
from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Read one fixture table with its schema already resolved, so
    building the frame runs no Spark job.

    A fixture is one parquet file. Its footer is read on the driver
    through Hadoop's FileSystem and converted by Spark's own converter
    (:func:`_footer_schema`), which is exactly the conversion schema
    inference applies to the one file it would touch, under the same
    session confs. The schema is then handed to ``spark.read.schema``,
    so the read skips the inference job. It is computed on every call
    and never cached: the file is the only source, so there is no
    second catalog that could drift from it. A directory path (the
    partitioned layout of a production lake) keeps plain
    ``spark.read.parquet``. Either way Catalyst owns pushdown and
    pruning: filters and projections applied by callers reach the scan
    (verify with ``df.explain``: PushedFilters/ReadSchema).
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    sf_dir = sf_dir or DEFAULT_SF_DIR
    # SESSION-PINNING CONTRACT (documented, deliberate): this loader
    # pins ``spark.sql.session.timeZone=UTC`` on first use so timestamp
    # semantics never depend on the host JVM default — required because
    # the driver's verify supplies an untuned session. The pin is part
    # of the engine's contract (session.py sets the same value);
    # callers mixing this loader with non-UTC sessions must load tables
    # first or pin their own timezone. Restore-after-read would be
    # unsound: Spark reads confs lazily at plan/execution time.
    if spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Same pinning contract: read naive parquet timestamps as LTZ
    # directly instead of inferring TIMESTAMP_NTZ (which event-time APIs
    # reject and which would put a cast node in every plan). The
    # _normalize_ntz cast below stays as a fallback for a footer that
    # carries Spark's own row metadata with an NTZ column.
    if spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", None) != "false":
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        return _read_events(spark, path)
    return _normalize_ntz(_read_parquet(spark, path))


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The Spark schema of the parquet file at ``path``, read from its
    footer on the driver; None when ``path`` is a directory.

    Same steps as Spark's schema inference for a single file
    (``ParquetFileFormat.readSchemaFromFooter`` over a
    ``ParquetToSparkSchemaConverter`` built from the session's SQL
    conf), minus the job that inference runs to read the footer on an
    executor. Because the converter reads the conf when it is built,
    the caller must set ``nanosAsLong`` and ``inferTimestampNTZ``
    first."""
    j = _footer_classes(spark.sparkContext._gateway)
    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    jpath = j.Path(path)
    status = jpath.getFileSystem(conf).getFileStatus(jpath)
    if status.isDirectory():
        return None
    meta = j.ParquetFileReader.readFooter(conf, jpath)
    jschema = j.ParquetFileFormat.readSchemaFromFooter(
        j.Footer(jpath, meta), j.ParquetToSparkSchemaConverter(state.conf())
    )
    return StructType.fromJson(json.loads(jschema.json()))


@functools.lru_cache(maxsize=1)
def _footer_classes(gateway) -> SimpleNamespace:
    """The JVM classes :func:`_footer_schema` calls, resolved once per
    py4j gateway: py4j resolves a dotted name with one gateway round
    trip per segment, which cost more than the footer read itself.
    Keyed on the gateway, so a session on a new gateway resolves them
    again."""
    jvm = gateway.jvm
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    return SimpleNamespace(
        Path=jvm.org.apache.hadoop.fs.Path,
        ParquetFileReader=jvm.org.apache.parquet.hadoop.ParquetFileReader,
        Footer=jvm.org.apache.parquet.hadoop.Footer,
        ParquetFileFormat=parquet.ParquetFileFormat,
        ParquetToSparkSchemaConverter=parquet.ParquetToSparkSchemaConverter,
    )


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read a fixture file with its footer schema (no inference job),
    or a directory with ``spark.read.parquet``."""
    schema = _footer_schema(spark, path)
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to TIMESTAMP (LTZ).

    Parquet written without ``isAdjustedToUTC`` is inferred as
    TIMESTAMP_NTZ by Spark's reader, but NTZ is rejected by event-time
    APIs the engine relies on (``withWatermark``, ``unix_micros``,
    ``session_window``). With the session timezone pinned to UTC (see
    ``load_table``) the cast preserves wall-clock values exactly, so
    DuckDB — which reads the same parquet as naive timestamps — still
    agrees value-for-value. No-op when the source already carries LTZ
    timestamps.
    """
    from pyspark.sql import functions as F

    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if not ntz_cols:
        return df
    return df.withColumns(
        {c: F.col(c).cast("timestamp") for c in ntz_cols}
    )


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    """The events fact carries parquet TIMESTAMP(NANOS), which Spark's
    reader rejects by default. Read nanos as long and truncate to
    microseconds with integer division (ns-since-epoch exceeds double's
    53-bit mantissa, so ``div``, never ``/``) — matching DuckDB's own
    ns→µs truncation so oracle comparisons agree.

    ``nanosAsLong`` stays set for the session (same pinning contract as
    the timezone above): it cannot be restored after the read because
    execution re-consults it lazily, and it only changes behavior for
    parquet TIMESTAMP(NANOS) columns — which, among the fixtures, only
    events carries.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return _normalize_ntz(df)


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    """Load all fixture tables as a dict of DataFrames."""
    return {name: load_table(spark, name, sf_dir) for name in TABLE_NAMES}


def spread(df: DataFrame) -> DataFrame:
    """Fan a narrow scan out to session parallelism for COMPUTE-BOUND
    transforms (heavy expression trees, sketching, Arrow UDFs).

    The local fixtures are single-row-group parquet, so their scans
    yield one task and a per-row-expensive projection runs on 1 of N
    cores. A production lake writes ~128 MB row groups and scans split
    naturally — the guard makes this a no-op there (no shuffle added
    when the source already supplies >= defaultParallelism splits).
    Even at scale the pattern is right: a CPU-bound stage should run at
    cluster parallelism, not at input-split count, and a round-robin
    exchange of the (narrow) input is far cheaper than the compute it
    unlocks. Do NOT use on scan-bound or shuffle-bound queries — it
    would add an exchange for nothing.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    est = _estimated_scan_partitions(df)
    if est is not None and est >= target:
        return df
    return df.repartition(target)


def _parse_bytes(v: str) -> int:
    """Parse a Spark byte-size conf value like '128m' / '134217728b'."""
    v = v.strip().lower()
    units = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if v and v[-1] in units:
        return int(float(v[:-1]) * units[v[-1]])
    return int(v)


# Logical nodes through which sizeInBytes stays file-size-derived.
# Anything else (Join, Generate/explode, Aggregate, Window …) makes
# Catalyst's non-CBO stats a multiplicative guess that can be wildly
# inflated — and an inflated estimate would silently skip the fan-out
# repartition spread() exists to add.
_SCAN_SHAPED_NODES = frozenset(
    {"Project", "Filter", "Union", "Relation", "LocalRelation", "LogicalRDD"}
)


def _estimated_scan_partitions(df: DataFrame) -> int | None:
    """Estimate how many input splits a scan yields, without touching
    ``df.rdd`` (which forces plan conversion and materializes RDD
    lineage just to ask a question the optimizer already answers).
    Catalyst's plan statistics give the scan's byte size; splits follow
    from ``spark.sql.files.maxPartitionBytes`` — the same arithmetic
    FilePartition uses, minus the open-cost packing refinement, which
    only makes this estimate conservative (lower) FOR SCAN-SHAPED
    plans. Returns None (estimate unusable → caller repartitions) when
    the plan contains any node beyond project/filter/union-of-scans,
    because without CBO those stats multiply out of file-size
    territory."""
    plan = df._jdf.queryExecution().optimizedPlan()
    for line in str(plan.toString()).splitlines():
        node = line.lstrip(" :+-").split(" ", 1)[0].split("[", 1)[0].rstrip(",")
        if node and node not in _SCAN_SHAPED_NODES:
            return None
    size = int(str(plan.stats().sizeInBytes()))
    max_bytes = _parse_bytes(
        df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "128m")
    )
    return max(1, -(-size // max_bytes))
