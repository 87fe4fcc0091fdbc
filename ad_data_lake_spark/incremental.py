"""Incremental-write semantics (SURVEY.md §2.9 T1–T3, §2.1 S15):
idempotent MERGE upsert and per-partition backfill over a parquet lake.

The reference's incremental contract: daily mode re-fetches only rows
with ``updated_time`` above a cutoff (reference
src/main_extractor.py:42-51,358) and re-writes whole dated folders per
backfill day (reference src/main_extractor.py:438-508) — re-running a
day must be idempotent. On Delta these are ``MERGE INTO`` and
``replaceWhere``; this container has no Delta jars, so the same
contracts are carried by an explicit bucketed + versioned layout:

- ``merge_upsert`` = **bucket-scoped MERGE**. The table lives as
  hash-bucket directories (``_mb=N``, N = pmod(xxhash64(key))) under a
  version directory; the table's commit state names the live version.
  A merge reads ONLY the buckets that contain update keys (partition
  pruning on ``_mb``), last-wins-dedupes current ∪ updates within those
  buckets, writes them to a NEW version directory, hardlinks every
  untouched bucket across (O(1) per file — no data copied, bytes shared
  with the previous version), and commits the new version as current.
  Semantics = ``MERGE INTO t USING u ON t.id = u.id WHEN MATCHED UPDATE
  WHEN NOT MATCHED INSERT`` with a deterministic recency rule (SURVEY
  §7 risk register: Spark needs an explicit tiebreak where the
  reference relied on dict overwrite order). Cost is O(affected
  buckets), not O(table) — the Delta/Iceberg cost model — and readers
  resolve the current version from the commit state, so they see
  strictly old-version-or-new-version, never a partial or missing
  table. The newest ``RETAIN_VERSIONS`` versions are retained (for
  in-flight readers and ``read_version`` time travel) and everything
  older is GC'd — the snapshot-retention window every real lake tunes
  (Delta ``VERSION AS OF`` + ``VACUUM``); the commit state's ordered
  version log records publish order so "N back" is well-defined even
  when a crashed merge leaves an orphaned directory.
- ``read_merged`` = the reader of the current version.
- ``backfill_partitions`` = dynamic partition overwrite — only the
  partitions present in the incoming frame are replaced, everything
  else untouched: exactly ``replaceWhere`` for the written keys.

**One record of commit state.** A versioned table's pointer, version
log and bucket count are one ``CommitState`` held by the table's
arbiter (:func:`_commit_store`): the sqlite store
(``<table>/_commit.sqlite``) on every host-local table, or the
HTTP/S3 conditional-put store where the table carries that marker.
Every reader and writer asks the arbiter (:func:`_state`), as a Delta
table is resolved from its log alone; no copy of that state exists
anywhere else, so no copy can fall behind or run ahead of it.

**Concurrent writers** (a 100 TB lake has streaming + backfill writers
by construction) are handled with optimistic concurrency, the Delta
commit protocol's shape: every merge records the version it computed
FROM, and the publish CAS-checks the table's commit state against that
base. A writer that lost the race gets ``ConcurrentWriteError`` and
re-runs its merge off the new current (automatic,
``MERGE_MAX_ATTEMPTS``), so both merges land and neither is silently
discarded. The whole commit is ONE conditional put of the table's
``CommitState`` (``commit_protocol.cas_publish``): sqlite runs it as
one ``BEGIN IMMEDIATE`` transaction (its journal rolls back a writer
that dies mid-commit, so there is no lock to break), HTTP as one
conditional ``PUT``. GC distinguishes logged directories (safe to
remove immediately — the arbiter's log only gains a name inside a
commit, so a logged directory's writer is finished or dead) from
never-logged ones, which might be a concurrent writer's merge awaiting
publish and are only reclaimed past ``ORPHAN_GRACE_SECONDS``.

Scale notes: the MERGE shuffle is one hash partition by key (the
window dedupe) over the AFFECTED buckets only; ``n_buckets`` should
scale with table size (buckets ≈ table_bytes / target_rewrite_bytes)
so a daily merge touching k keys rewrites ~k/n_buckets of the table.

The versioned layout is the only one this module merges into or reads
as a table. A plain parquet directory (no commit state) is read with
``sinks.read_lake`` and rewritten with ``backfill_partitions``; a
merge into one, and ``read_merged`` on one, raise ``ValueError``.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructType

from ad_data_lake_spark.commit_protocol import (
    COMMIT_KEY,
    CommitState,
    ConcurrentWriteError,
    PreconditionFailed,
    cas_publish,
)
from ad_data_lake_spark.operators.windows import last_wins_dedupe

N_MERGE_BUCKETS = 8
# target rewrite granularity: one bucket ≈ this many (pre-compression)
# bytes, so a merge touching one key rewrites ~256 MB, not the table
MERGE_BUCKET_TARGET_BYTES = 256 << 20
# versions kept on disk (current + RETAIN_VERSIONS-1 priors). The
# reference keeps EVERY dated snapshot folder (src/main_extractor.py:363);
# a real lake bounds that with a retention window — this is that knob.
RETAIN_VERSIONS = 3
_MAX_MERGE_BUCKETS = 1 << 16
_BUCKET = "_mb"
_SCHEMA_FILE = "_SCHEMA.json"
# Optimistic-concurrency knobs. The orphan grace window protects a
# CONCURRENT writer's not-yet-published version directory (written
# before its commit) from being GC'd as a crashed merge's leftover:
# never-logged v-* dirs are only removed once older than the grace
# window. Logged-but-unpointed tails carry no such risk (the arbiter's
# log only names a version inside a commit, so a logged orphan's
# writer is dead by construction) and GC immediately.
ORPHAN_GRACE_SECONDS = 600.0
MERGE_MAX_ATTEMPTS = 5
_UNSET = object()


# ConcurrentWriteError is defined by the store-agnostic protocol
# module and re-exported here (its historical home) — every table
# arbiter raises the SAME class.


def buckets_for_bytes(
    nbytes: int,
    target_bytes: int = MERGE_BUCKET_TARGET_BYTES,
    min_buckets: int = N_MERGE_BUCKETS,
) -> int:
    """Bucket count for a table of ``nbytes``: enough buckets that each
    holds ≈ ``target_bytes``, rounded UP to a power of two (stable
    doubling as tables grow), floored at the fixture default and capped
    at 2^16 (a 16 PB table at the default target — past that, raise
    ``target_bytes`` rather than multiplying directories)."""
    if nbytes <= 0:
        return min_buckets
    want = -(-nbytes // target_bytes)
    return min(_MAX_MERGE_BUCKETS, max(min_buckets, 1 << (want - 1).bit_length()))


def _estimated_plan_bytes(df: DataFrame) -> int:
    """Catalyst's sizeInBytes for the frame — file-size-derived for
    scans, a (possibly inflated) estimate otherwise. Inflation only
    OVERSIZES the bucket count, which costs directories, not
    correctness; the power-of-two rounding keeps it tame."""
    try:
        return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return 0


def _bucket_expr(key: str, n_buckets: int):
    """Deterministic bucket id for a merge key. Cast-to-string first so
    the bucket of a key never depends on its physical type; xxhash64 is
    stable across sessions/versions (recomputes agree at any time)."""
    return F.pmod(F.xxhash64(F.col(key).cast("string")), F.lit(n_buckets)).cast("int")


def _save_schema(version_dir: str, schema: StructType) -> None:
    """Persist the logical schema next to the data so an all-tombstone
    version (zero part files) still reads back as an EMPTY table with
    the right columns instead of a schema-inference error."""
    os.makedirs(version_dir, exist_ok=True)
    with open(os.path.join(version_dir, _SCHEMA_FILE), "w") as f:
        f.write(schema.json())


def _stored_schema(version_dir: str) -> StructType:
    """The schema ``_save_schema`` stored for one version. Every version
    this layout writes has one, so a missing file is a damaged table,
    not a reason to fall back to inference."""
    path = os.path.join(version_dir, _SCHEMA_FILE)
    try:
        with open(path) as f:
            return StructType.fromJson(json.load(f))
    except FileNotFoundError:
        raise ValueError(
            f"{path} is missing: cannot resolve the version schema"
        ) from None


def _read_version_dir(spark: SparkSession, version_dir: str) -> DataFrame:
    """Read one version directory with its stored ``_SCHEMA.json``, so
    building the frame runs no schema-inference job.

    The stored schema covers every part file in the version: it is the
    schema of the merge output, which is the union of the previous
    version's columns and the batch's. After a schema-evolving merge
    the hardlinked untouched buckets still hold the old column set and
    read the evolved columns as nulls (Delta's read behavior for files
    predating an ADD COLUMN). A part file whose column type disagrees
    with the stored schema fails the scan instead of reading nulls. A
    version with no bucket directories (every key tombstoned) reads as
    an empty frame with the stored schema."""
    schema = _stored_schema(version_dir)
    has_data = any(
        d.startswith(f"{_BUCKET}=") for d in os.listdir(version_dir)
    )
    if not has_data:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(version_dir).drop(_BUCKET)


def _state(target_path: str) -> CommitState | None:
    """The table's commit state as its arbiter holds it; None for a
    plain or missing directory, or a table with no commit yet. Never
    creates an arbiter database."""
    got = _commit_store(target_path).get(COMMIT_KEY)
    return CommitState.from_bytes(got[0]) if got is not None else None


def _live_state(target_path: str) -> CommitState:
    state = _state(target_path)
    if state is None or state.current is None:
        raise ValueError(f"{target_path} is not a versioned (bucketed) table")
    return state


def read_merged(spark: SparkSession, target_path: str) -> DataFrame:
    """Read the version the table's commit state names as current.
    Readers never observe a mid-merge state: a commit moves the state
    from one complete version directory to another in one conditional
    put. A directory with no commit state is not a versioned table and
    raises; plain parquet directories are read with ``sinks.read_lake``."""
    version = _live_state(target_path).current
    return _read_version_dir(spark, os.path.join(target_path, version))


def _link_tree(src: str, dst: str) -> None:
    """Hardlink a bucket directory into the new version (fall back to
    copy on filesystems without link support). Linked files share
    bytes with — and are trivially byte-identical to — the previous
    version's files."""
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        tgt = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(tgt, exist_ok=True)
        for f in files:
            try:
                os.link(os.path.join(root, f), os.path.join(tgt, f))
            except OSError:
                shutil.copy2(os.path.join(root, f), os.path.join(tgt, f))


def _doomed_versions(target_path: str, keep: set[str], logged: set[str]) -> list[str]:
    """Version directories outside the retention set, eligible for
    removal. Two classes, per the concurrency contract:

    - **logged** dirs (in the commit state's log at any point —
      superseded published versions and crashed merges' unpointed
      tails) are eligible immediately: the log only gains a name
      inside a commit, so a logged-but-unretained dir's writer is
      finished or dead, never in flight;
    - **never-logged** dirs are either a crashed merge that died before
      commit OR a concurrent writer's version still awaiting its
      publish — indistinguishable by name, so they are eligible only
      once older than ``ORPHAN_GRACE_SECONDS`` (a commit follows its
      write within seconds; ten minutes is a dead writer).

    Selection uses the kept/logged sets the commit itself returned (a
    consistent snapshot of the log/pointer state at commit time); the
    actual ``rmtree`` runs after the commit and re-checks the LIVE log
    first — see :func:`_remove_versions`. Deleting outside the
    arbiter's critical section is safe because the pointer has already
    flipped, a doomed dir can never re-enter any later publish's
    retention set (the log only ever appends NEW version names), and
    concurrent removers of the same dir are idempotent
    (``ignore_errors``).
    Keeping rmtree out of the critical section keeps commits at a few
    milliseconds, so a publish never stalls waiters behind a large
    directory removal, no matter how big the superseded versions are."""
    doomed = []
    now = time.time()
    for d in os.listdir(target_path):
        if not d.startswith("v-") or d in keep:
            continue
        if d not in logged:
            try:
                age = now - os.stat(os.path.join(target_path, d)).st_mtime
            except OSError:
                continue
            if age < ORPHAN_GRACE_SECONDS:
                continue
        doomed.append(d)
    return sorted(doomed)


def _remove_versions(target_path: str, doomed: list[str]) -> list[str]:
    """rmtree the doomed version dirs — call AFTER the commit (see
    :func:`_doomed_versions` for why that is safe).

    The live log/pointer is re-read from the arbiter PER DIRECTORY,
    immediately before its rmtree, and anything it names is spared:
    the doomed list was selected from a snapshot, and a publish can
    land between selection and removal. Without this recheck, a
    remover stalled past the orphan grace window could delete a
    directory that a concurrent writer published as CURRENT in the
    meantime (version names are
    never reused — the log only ever appends fresh uuid-suffixed
    names — so a spared name can never become doomed-but-live again).
    Re-reading per directory (one arbiter read each; doomed lists are
    at most a handful of names) narrows the residual exposure from
    the full multi-directory removal pass to the instants between one
    recheck and its own rmtree — a writer stalled past the grace
    window publishing its never-logged version in exactly that sliver
    is the one case left, and the grace window (minutes, vs a
    write-to-publish gap of seconds) is the real defense against it."""
    removed = []
    for d in doomed:
        state = _state(target_path)
        if state is not None and (d == state.current or d in state.versions):
            continue
        shutil.rmtree(os.path.join(target_path, d), ignore_errors=True)
        removed.append(d)
    return removed


def _commit_store(target_path: str):
    """The commit arbiter for this table: the HTTP/S3-wire store when
    the table carries the ``_commit.http`` marker (see
    ``http_store.HttpTableCommitStore``), else the sqlite store
    (``sqlite_store.SqliteTableCommitStore``, whose ``_commit.sqlite``
    database is created by the first commit, or by adopting a table
    written before the arbiter).
    Per-table and layout-bound: the marker travels with the directory,
    so every writer on every process picks the same arbiter with no
    configuration to drift."""
    from ad_data_lake_spark import http_store, sqlite_store

    if os.path.exists(os.path.join(target_path, http_store.HTTP_COMMIT_MARKER)):
        return http_store.HttpTableCommitStore(target_path)
    return sqlite_store.SqliteTableCommitStore(target_path)


def _publish(
    target_path: str,
    new_version: str,
    retain: int = RETAIN_VERSIONS,
    base_version: object = _UNSET,
    n_buckets: int | None = None,
) -> None:
    """Commit ``new_version``: append it to the ordered version log,
    make it current, and GC versions past the retention
    window (the newest ``retain`` versions — current plus ``retain-1``
    priors — stay readable via ``read_version``).

    **Optimistic concurrency (the Delta commit protocol's CAS):** the
    commit runs through the store-agnostic protocol
    (:func:`~ad_data_lake_spark.commit_protocol.cas_publish`) against
    this table's arbiter (:func:`_commit_store`). When ``base_version``
    is given, the publish first re-checks that the current version still
    equals the version this merge was computed FROM — if another
    writer published in between, committing would silently discard
    that writer's merge (lost update), so this raises
    :class:`ConcurrentWriteError` instead and the caller recomputes
    off the new current. Two concurrent merges therefore serialize:
    one commits, the other retries — no version is ever silently
    lost. The same publish code runs unchanged over an object store's
    conditional-put (see commit_protocol's backend mapping); only the
    store adapter differs.

    The log, pointer and bucket count change together in that one
    conditional put, so a writer that dies anywhere leaves the state
    either wholly before or wholly after its commit. The history this
    publish extends is truncated at the current pointer first, so an
    unpointed log tail (adopted from a table written before the
    arbiter) is dropped from the log (and its directory GC'd below)
    instead of surviving as a readable 'prior' ahead of the version it
    never superseded.
    The ``rmtree`` of doomed versions runs AFTER the commit — it is
    the only unbounded-cost step, and keeping it out of the critical
    section keeps commits at one small write (so waiters are never
    starved behind a large GC)."""
    result = cas_publish(
        _commit_store(target_path),
        new_version,
        base_version=base_version,
        retain=retain,
        n_buckets=n_buckets,
    )
    doomed = _doomed_versions(
        target_path, set(result.kept), set(result.logged)
    )
    _remove_versions(target_path, doomed)


def _check_mergeable(target_path: str) -> None:
    """Refuse a merge into a directory with no commit state that holds
    anything this layout did not write. Checked before anything is
    written, the arbiter database included. The layout's own names
    pass: ``v-*`` (a first merge that died before publishing leaves
    one for the age-gated orphan GC), ``_*`` (the arbiter files) and
    ``.*`` (temporary files)."""
    if not os.path.isdir(target_path):
        return
    foreign = sorted(
        d for d in os.listdir(target_path) if not d.startswith(("v-", "_", "."))
    )
    if foreign:
        raise ValueError(
            f"{target_path} is not a versioned (bucketed) table: it holds "
            f"{foreign[0]!r} and no commit state. Plain parquet directories "
            "are read with sinks.read_lake and written with "
            "backfill_partitions, never merged into."
        )


def _apply_bucketed(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    key: str,
    order_col: str,
    tiebreak: str,
    n_buckets: int | None,
    delete_col: str | None,
) -> None:
    """Shared bucket-scoped write core for MERGE and CDC-apply, with
    optimistic-concurrency retry: each attempt computes the merged
    state from the current version, and the publish CAS-checks that
    the commit state hasn't advanced since (see
    :func:`_publish`). A lost race raises ``ConcurrentWriteError``
    internally and the attempt re-runs off the new current — the batch
    is re-applied, which the last-wins recency rule makes correct and
    idempotent — so two concurrent merges both land, serialized."""
    for attempt in range(MERGE_MAX_ATTEMPTS):
        try:
            return _apply_bucketed_once(
                spark, target_path, batch, key, order_col, tiebreak,
                n_buckets, delete_col,
            )
        except ConcurrentWriteError:
            if attempt == MERGE_MAX_ATTEMPTS - 1:
                raise


def _apply_bucketed_once(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    key: str,
    order_col: str,
    tiebreak: str,
    n_buckets: int | None,
    delete_col: str | None,
) -> None:
    """One merge attempt: resolve the bucket count (stored layout wins;
    first write sizes from the batch), last-wins-dedupe current ∪ batch
    within the TOUCHED buckets only, optionally drop tombstoned keys
    (``delete_col``), write a new version, hardlink untouched buckets,
    publish (CAS against the base version read here)."""

    def finalize(deduped: DataFrame) -> DataFrame:
        if delete_col is None:
            return deduped
        return deduped.where(~F.col(delete_col)).drop(delete_col)

    state = _state(target_path)
    prev_version = state.current if state is not None else None
    if prev_version is None:
        _check_mergeable(target_path)
        if n_buckets is None:
            n_buckets = buckets_for_bytes(_estimated_plan_bytes(batch))
    else:
        # layout-bound: the committed count always wins
        n_buckets = state.n_buckets
        if n_buckets is None:
            raise ValueError(
                f"{target_path}: the commit state records no bucket "
                "count, so it cannot be resolved"
            )

    batch_b = batch.withColumn(_BUCKET, _bucket_expr(key, n_buckets))
    new_version = f"v-{uuid.uuid4().hex[:8]}"
    new_dir = os.path.join(target_path, new_version)

    if prev_version is None:
        # first write: every bucket materializes
        deduped = finalize(last_wins_dedupe(batch_b, key, order_col, tiebreak))
        deduped.repartition(_BUCKET).write.partitionBy(_BUCKET).parquet(new_dir)
    else:
        cur_dir = os.path.join(target_path, prev_version)
        # the touched-bucket set is bounded by n_buckets, never by data
        # volume — a cheap partial-aggregate job over the (small)
        # batch side, collected so the planner can PRUNE the target
        # scan to exactly those _mb= directories
        touched = {r[0] for r in batch_b.select(_BUCKET).distinct().collect()}
        touched_dirs = [
            os.path.join(cur_dir, f"{_BUCKET}={b}")
            for b in sorted(touched)
            if os.path.isdir(os.path.join(cur_dir, f"{_BUCKET}={b}"))
        ]
        # the stored schema is a superset of every footer in the
        # version (see _read_version_dir), so a touched bucket that
        # predates an evolved column reads it as null and the rewrite
        # keeps the column. With no touched bucket on disk the frame is
        # empty but still carries the stored columns, so the new
        # version's schema keeps those of its hardlinked buckets.
        cur_schema = _stored_schema(cur_dir)
        if touched_dirs:
            # basePath keeps the _mb partition column and scopes the
            # listing to the touched buckets
            affected = (
                spark.read.schema(cur_schema)
                .option("basePath", cur_dir)
                .parquet(*touched_dirs)
            )
        else:
            affected = spark.createDataFrame(
                [], cur_schema.add(_BUCKET, IntegerType())
            )
        if delete_col is not None:
            affected = affected.withColumn(delete_col, F.lit(False))
        # allowMissingColumns = schema evolution: the batch may ADD
        # columns, and rewritten buckets may carry columns a given
        # batch doesn't know about. The output schema is the union of
        # both, and _save_schema stores it below, which is why every
        # version's stored schema is a superset of its footers.
        deduped = finalize(
            last_wins_dedupe(
                affected.unionByName(batch_b, allowMissingColumns=True),
                key,
                order_col,
                tiebreak,
            )
        )
        deduped.repartition(_BUCKET).write.partitionBy(_BUCKET).parquet(new_dir)
        for d in os.listdir(cur_dir):
            if d.startswith(f"{_BUCKET}=") and int(d.split("=", 1)[1]) not in touched:
                _link_tree(os.path.join(cur_dir, d), os.path.join(new_dir, d))
    _save_schema(new_dir, deduped.drop(_BUCKET).schema)
    # the bucket count commits in the same conditional put, so a
    # losing concurrent first write never stamps its count over the
    # winner's layout
    try:
        _publish(
            target_path, new_version, base_version=prev_version, n_buckets=n_buckets
        )
    except ConcurrentWriteError:
        # this attempt's version dir is ours alone — reclaim it now
        # rather than leaving it for the age-gated orphan GC
        shutil.rmtree(new_dir, ignore_errors=True)
        raise


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key: str,
    order_col: str,
    tiebreak: str,
    n_buckets: int | None = None,
) -> None:
    """Idempotent bucket-scoped upsert: rows in ``updates`` win over
    the current table when newer by (order_col, tiebreak); unseen keys
    insert. Applying the same updates twice yields an identical table.
    Only buckets containing update keys are rewritten; every other
    bucket's files carry over by hardlink, untouched.

    ``n_buckets=None`` (default) resolves the bucket count: an existing
    table's stored count always wins (the bucket function is part of
    the layout — changing it would scatter keys across old buckets), a
    first write sizes from the incoming frame via ``buckets_for_bytes``
    so the count GROWS with data instead of pinning the fixture's 8.
    The resolved count is committed with the table's state."""
    _apply_bucketed(
        spark, target_path, updates, key, order_col, tiebreak, n_buckets, None
    )


def backfill_partitions(
    df_slice: DataFrame,
    target_path: str,
    partition_cols: tuple[str, ...] = ("snapshot_date",),
) -> None:
    """T2: per-day (per-partition) backfill. Dynamic partition
    overwrite replaces only the partitions present in ``df_slice`` —
    the ``replaceWhere``-style idempotent re-run of one day. The
    overwrite mode is passed as a writer option so the session conf is
    never mutated."""
    (
        df_slice.repartition(*partition_cols)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(target_path)
    )


DELETE_COL = "_deleted"


def cdc_apply(
    spark: SparkSession,
    target_path: str,
    changes: DataFrame,
    key: str,
    order_col: str,
    tiebreak: str,
    n_buckets: int | None = None,
    delete_col: str = DELETE_COL,
) -> None:
    """Apply a CDC change stream (upserts + DELETE tombstones) to the
    bucketed table: per key the LATEST change wins (same (order_col,
    tiebreak) recency rule as ``merge_upsert``); if that winner is a
    tombstone the key is REMOVED from the table, otherwise it upserts.
    Idempotent like MERGE — replaying the same change batch leaves the
    table byte-identical — which is what makes an at-least-once CDC
    feed (Debezium-style) safe to apply.

    Built ON the bucket machinery, not beside it (``_apply_bucketed``):
    current rows enter the dedupe carrying ``delete_col=false``, so one
    last-wins window + one tombstone filter computes the final state of
    the AFFECTED buckets only; untouched buckets hardlink over exactly
    as in ``merge_upsert``. A tombstone for an absent key is a no-op
    (the filter drops it), matching MERGE's WHEN-NOT-MATCHED-AND-DELETE
    semantics."""
    _apply_bucketed(
        spark, target_path, changes, key, order_col, tiebreak, n_buckets, delete_col
    )


def read_version(
    spark: SparkSession, target_path: str, steps_back: int = 0
) -> DataFrame:
    """Time travel: read the table as of ``steps_back`` merges ago
    (0 = current) — ``VERSION AS OF`` on the versioned layout. The
    version is resolved from the commit state's ordered log relative to
    its current pointer (never from directory-listing order, which
    a crashed merge's orphan dir would scramble), so "previous" is
    always the version the last publish actually superseded. Depth is
    bounded by the ``RETAIN_VERSIONS`` retention window; past it the
    version is GC'd and this raises — the reference instead retains
    every dated snapshot folder forever (src/main_extractor.py:363),
    which is this layout with retention = ∞."""
    state = _live_state(target_path)
    current = state.current
    if steps_back < 0:
        raise ValueError(f"steps_back must be >= 0, got {steps_back}")
    if steps_back == 0:
        return _read_version_dir(spark, os.path.join(target_path, current))
    # truncated-at-current history: an unpointed log tail is never
    # resolvable as a prior version
    history = state.published()
    try:
        idx = history.index(current) - steps_back
    except ValueError:
        raise ValueError(f"{target_path}: version log does not list {current}")
    if idx < 0:
        raise ValueError(
            f"{target_path} retains no version {steps_back} back "
            f"(history depth {history.index(current) + 1})"
        )
    vdir = os.path.join(target_path, history[idx])
    if not os.path.isdir(vdir):
        raise ValueError(f"{target_path}: version {history[idx]} was GC'd")
    return _read_version_dir(spark, vdir)


def read_previous(spark: SparkSession, target_path: str) -> DataFrame:
    """The table as of just before the last merge — the rollback/audit
    read; sugar for ``read_version(..., steps_back=1)``."""
    return read_version(spark, target_path, steps_back=1)


def vacuum(target_path: str, retain: int = 1) -> list[str]:
    """Explicit retention tightening — the ``VACUUM`` analog: keep only
    the newest ``retain`` versions (the current version is always
    kept), truncate the commit state's log to match, delete the rest.
    Returns the removed version names. Complements the automatic
    per-publish window: a pipeline that just finished an audited
    backfill calls this to reclaim the space early instead of waiting
    ``RETAIN_VERSIONS`` more merges.

    The log rewrite is one conditional put against the table's arbiter
    (a publish that lands in between makes it re-read and re-derive);
    the directory removal itself runs after that commit (see
    :func:`_doomed_versions`).
    Never-logged version directories — possibly a concurrent writer's
    merge awaiting publish — are only removed past the orphan grace
    window; logged tails GC immediately."""
    store = _commit_store(target_path)
    for _ in range(MERGE_MAX_ATTEMPTS):
        got = store.get(COMMIT_KEY)
        if got is None:
            raise ValueError(f"{target_path} is not a versioned (bucketed) table")
        state = CommitState.from_bytes(got[0])
        if state.current is None:
            raise ValueError(f"{target_path} is not a versioned (bucketed) table")
        # Truncate at the pointer BEFORE applying the retention window:
        # an unpointed log tail must be GC'd as the orphan it is, never
        # retained ahead of current as a 'prior'.
        history = state.published()
        kept = history[-max(1, retain):]
        if state.current not in kept:
            kept = kept + [state.current]
        new_state = CommitState(tuple(kept), state.current, state.n_buckets)
        try:
            store.put_if(COMMIT_KEY, new_state.to_bytes(), if_match=got[1])
        except PreconditionFailed:
            continue  # a publish landed mid-vacuum: re-read, re-derive
        doomed = _doomed_versions(target_path, set(kept), set(state.versions))
        return _remove_versions(target_path, doomed)
    raise ConcurrentWriteError(
        f"{target_path}: vacuum lost {MERGE_MAX_ATTEMPTS} publish races"
    )


def lake_stats(target_path: str) -> dict:
    """Table-inspection utility (DESCRIBE DETAIL analog): version
    history, live-version file/byte/bucket counts, and how many bytes
    the live version SHARES with prior versions via hardlinks (the
    observable form of the O(affected-buckets) merge cost).

    ``schema_gaps`` names each column that a live bucket file's footer
    carries but the version's ``_SCHEMA.json`` lacks. Reads drop such a
    column; a merge written by an earlier release could leave one (see
    README, "Known limitation"). Footers are read in this process with
    pyarrow: no Spark job runs."""
    state = _state(target_path)
    if state is None or state.current is None:
        n_files = n_bytes = 0
        for root, _dirs, files in os.walk(target_path):
            for f in files:
                if f.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(root, f))
        return {
            "versioned": False,
            "n_files": n_files,
            "n_bytes": n_bytes,
        }
    import pyarrow.parquet as pq

    vdir = os.path.join(target_path, state.current)
    stored = set(_stored_schema(vdir).fieldNames())
    n_files = n_bytes = shared_bytes = 0
    buckets = set()
    gaps = set()
    for root, _dirs, files in os.walk(vdir):
        b = os.path.basename(root)
        if b.startswith(f"{_BUCKET}="):
            buckets.add(b)
        for f in files:
            if not f.endswith(".parquet"):
                continue
            path = os.path.join(root, f)
            st = os.stat(path)
            n_files += 1
            n_bytes += st.st_size
            if st.st_nlink > 1:  # hardlinked into other versions
                shared_bytes += st.st_size
            gaps.update(set(pq.read_schema(path).names) - stored)
    return {
        "versioned": True,
        "current_version": state.current,
        "n_versions": len(state.versions),
        "version_history": list(state.versions),
        "n_buckets": state.n_buckets,
        "n_bucket_dirs": len(buckets),
        "n_files": n_files,
        "n_bytes": n_bytes,
        "shared_bytes": shared_bytes,
        "schema_gaps": sorted(gaps),
    }
