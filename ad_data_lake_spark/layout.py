"""Physical-layout management: bucketing, skew salting, small-file
compaction.

None of these change WHAT a query computes — they are the knobs that
decide whether the same logical plan runs in one pass or falls over at
100 TB. The reference never needs them (its "layout" is one JSON file
per entity per day, reference src/utils/storage.py:9-16); a lake
holding the same data at scale lives or dies by them:

- **Bucketing** (``write_bucketed``): persist a table pre-hashed into
  N buckets on its join key. Two tables bucketed the same way
  equi-join with ZERO exchanges — the shuffle was paid once at write
  time and amortizes over every subsequent join. This is the layout
  the SURVEY scale notes assume for the events fact (user_id buckets
  feeding sessionization, frequency caps, and the as-of join).
- **Skew salting** (``salted_join``): when one join key carries a
  disproportionate share of rows AND both sides are too big to
  broadcast, append a deterministic salt to the fact key and explode
  the dim side ×S so the hot key spreads over S partitions. Broadcast
  is always the first answer for a small dim; AQE's skew-join split
  (on by default in session.py) handles moderate sort-merge skew —
  salting is the explicit fallback when neither applies.
- **Compaction** (``compact_table``): incremental writers accrete
  small files (every micro-batch/backfill day writes its own); scans
  then pay per-file open/footer cost and lose split efficiency.
  Rewrite a table directory into ~target-size files with ``coalesce``
  (narrow — no shuffle) and swap it in by two renames that never leave
  the data without a complete copy on disk.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_BUCKETS = 8
N_SALTS = 8


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_col: str,
    n_buckets: int = N_BUCKETS,
) -> None:
    """Persist ``df`` as an external parquet table bucketed (and
    sorted) by ``bucket_col``. Requires the session catalog
    (``saveAsTable``) because bucket metadata lives there; plain
    ``.parquet(path)`` cannot record it."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(path, ignore_errors=True)
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table)
    )


def bucketed_join(spark: SparkSession, left_table: str, right_table: str, key: str) -> DataFrame:
    """Join two same-bucketed tables on their bucket key. With both
    sides bucketed ×N on ``key``, the plan is a SortMergeJoin with NO
    Exchange on either side (verify: ``.explain`` shows zero exchanges
    below the join) — the co-location came from the layout. The
    ``merge`` hint pins the shape the layout exists for: at lake scale
    neither side broadcasts, and SMJ-over-buckets is exactly what
    Catalyst picks unhinted; on small fixtures it would broadcast and
    ignore the layout."""
    return spark.table(left_table).join(spark.table(right_table).hint("merge"), key)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_src: str,
    n_salts: int = N_SALTS,
) -> DataFrame:
    """Skew-spread equi-join: fact rows get ``salt = xxhash64(salt_src)
    % n_salts`` (deterministic — no rand(), so retries/recomputes are
    stable), the dim side is exploded ×n_salts, and the join runs on
    (key, salt). A key holding X% of the fact now occupies X/n_salts
    per partition. ``shuffle_hash`` hint pins the non-broadcast shape
    the technique exists for; drop it and a small dim would broadcast
    (which needs no salting in the first place)."""
    salted_fact = fact.withColumn(
        "salt", F.pmod(F.xxhash64(F.col(salt_src)), F.lit(n_salts)).cast("int")
    )
    salted_dim = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return salted_fact.join(salted_dim.hint("shuffle_hash"), [key, "salt"]).drop("salt")


def _partition_columns(path: str) -> list[str]:
    """Detect Hive partition columns from ``key=value`` directory names,
    outermost first. Only the first child chain is inspected — a valid
    Hive layout repeats the same keys at each depth."""
    cols: list[str] = []
    cur = path
    while True:
        subdirs = [
            d
            for d in sorted(os.listdir(cur))
            if os.path.isdir(os.path.join(cur, d)) and "=" in d and not d.startswith(".")
        ]
        if not subdirs:
            return cols
        cols.append(subdirs[0].split("=", 1)[0])
        cur = os.path.join(cur, subdirs[0])


def compact_table(
    spark: SparkSession, path: str, target_bytes: int = 128 << 20
) -> int:
    """Rewrite the parquet files under ``path`` into ~``target_bytes``
    files, PRESERVING any Hive partition layout (an incremental sink is
    exactly the partitioned case — every micro-batch/backfill day writes
    its own files under ``snapshot_date=...``; flattening it would lose
    partition pruning). Unpartitioned input compacts with ``coalesce``
    (narrow, shuffle-free); partitioned input re-writes with the same
    ``partitionBy`` after a ``repartition`` on the partition columns —
    one shuffle, so each output task holds whole partitions and each
    partition directory lands in few files. Returns the new file count.

    Local-FS directory swap: the compacted copy is written to
    ``<path>.compacting``, the old directory renamed aside to
    ``<path>.compacted-old``, the copy renamed into place, and only then
    is the old directory removed — a crash at any point leaves a
    complete copy of the rows on disk. When ``path`` is missing but one
    of those leftovers exists, a crash hit the swap: ValueError, and
    nothing is touched. On a real lake this is Delta/Iceberg ``OPTIMIZE``
    (rewrite + atomic metadata commit) — same plan shape, transactional
    swap."""
    tmp = path.rstrip("/") + ".compacting"
    old = path.rstrip("/") + ".compacted-old"
    if not os.path.isdir(path):
        leftovers = [d for d in (tmp, old) if os.path.exists(d)]
        if leftovers:
            raise ValueError(
                f"{path} is missing but compaction leftover {leftovers} exists: "
                "a compaction crashed mid-swap; move the complete copy back "
                "into place before compacting again"
            )
    # with path present, a leftover .compacting is a dead half-write and
    # a leftover .compacted-old a copy already superseded by path
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, math.ceil(total / target_bytes))
    part_cols = _partition_columns(path)
    df = spark.read.parquet(path)
    if part_cols:
        (
            df.repartition(n_files, *part_cols)
            .write.partitionBy(*part_cols)
            .parquet(tmp)
        )
    else:
        df.coalesce(n_files).write.parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return sum(
        1
        for _root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


ZORDER_BITS = 16
ZORDER_NORM_BITS = 8
ZORDER_FILES = 16


def zvalue(x, y, bits: int = ZORDER_BITS):
    """Morton/Z-curve interleave of the low ``bits`` of two dimension
    columns (x on even bit positions, y on odd): rows close in BOTH
    dimensions get close z-values, so sorting by z clusters the plane
    into tiles. Pure long arithmetic — codegen'd, reproducible in the
    DuckDB oracle with the same shift/mask terms."""
    mask = F.lit((1 << bits) - 1).cast("long")
    xm = x.cast("long").bitwiseAND(mask)
    ym = y.cast("long").bitwiseAND(mask)
    z = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    for b in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(xm, b).bitwiseAND(one), 2 * b)
            + F.shiftleft(F.shiftright(ym, b).bitwiseAND(one), 2 * b + 1)
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    n_files: int = ZORDER_FILES,
    bits: int = ZORDER_NORM_BITS,
) -> None:
    """Multi-dimension clustering: write ``df`` range-partitioned and
    sorted on zvalue(x, y). A single-column sort gives perfect file
    pruning on that column and NONE on any other; z-order gives
    near-min/max-tight files on BOTH dimensions at once, so a scan
    with a predicate on either (or both) skips most files on parquet
    row-group stats alone. This is Delta/Iceberg ``OPTIMIZE ZORDER BY``
    re-expressed with vanilla Spark: one range shuffle (sampled
    boundaries) + per-file sort, no transaction log needed for the
    local lake. Skipping quality is asserted in tests/test_lake.py by
    measuring per-file (x, y) bounding boxes against a time-sorted
    baseline.

    Both dimensions are min-max normalized to the SAME ``bits`` width
    before interleaving — with raw values a wide dimension (say 20-bit
    ids against 5-bit day indexes) owns every significant z bit and
    the curve degenerates to a single-column sort; equalized widths
    are what make the tiles square-ish in rank space (Delta/Iceberg
    z-ordering does the same via per-column range partitioning). The
    two min/max pairs are one tiny driver-side aggregate."""
    # Compute bounds BEFORE touching the target: an empty input yields
    # all-null min/max, and discovering that after an rmtree would have
    # destroyed the existing data for a write that cannot proceed.
    lo_x, hi_x, lo_y, hi_y = df.agg(
        F.min(x_col), F.max(x_col), F.min(y_col), F.max(y_col)
    ).collect()[0]
    if lo_x is None or lo_y is None:
        raise ValueError(
            f"write_zordered: input has no non-null ({x_col}, {y_col}) rows; "
            "refusing to overwrite " + path
        )
    shutil.rmtree(path, ignore_errors=True)
    scale = (1 << bits) - 1

    def _norm(col, lo, hi):
        rng = max(int(hi) - int(lo), 1)
        return ((col.cast("long") - int(lo)) * scale / rng).cast("long")

    z = zvalue(
        _norm(F.col(x_col), lo_x, hi_x), _norm(F.col(y_col), lo_y, hi_y), bits
    )
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
