"""A real, durable :class:`~ad_data_lake_spark.commit_protocol.
ConditionalStore` backend over sqlite — the host-local commit arbiter
of every versioned table that does not carry the HTTP store's marker.

POSIX has no compare-and-swap across files, so a table directory
alone cannot arbitrate concurrent commits. This adapter gets the CAS
from a transactional store instead, exactly the shape of the real
object-store backends the protocol documents (S3 ``If-Match``, GCS
``ifGenerationMatch``, Azure ETags):

- :class:`SqliteConditionalStore` — the generic key→(data, generation)
  store. ``put_if`` runs one ``BEGIN IMMEDIATE`` transaction: sqlite's
  own write lock serializes writers across threads AND processes, the
  precondition check and the write are atomic together, and a writer
  that dies mid-transaction is rolled back by sqlite's journal on the
  next open — crash recovery is the database's, not ours, and there is
  no staleness judgment or break path anywhere. The etag is a
  monotonically increasing per-key generation (GCS's scheme verbatim;
  ``if_none_match`` maps to GCS ``ifGenerationMatch=0``).
- :class:`SqliteTableCommitStore` — the versioned table layout with
  sqlite as its commit arbiter. The table's ``CommitState`` (pointer,
  version log, bucket count) lives only in ``<table>/_commit.sqlite``,
  created by the table's first commit; every reader and writer asks
  this store for it. A ``get`` on a directory without the database
  creates none.

Adoption: a table written by a release that kept its commit state in
``_CURRENT``/``_VERSIONS``/``_BUCKETS`` files has no database row yet.
Its first ``get`` seeds the row from those files, under ``BEGIN
IMMEDIATE`` and only while the row is still absent, so N processes
racing to adopt one table agree on a single seed and then CAS against
it as usual. Those files are read nowhere else and written by nothing:
after adoption they are inert. Adoption makes the database the
arbiter from then on, so an old release and this one must not write
the same table at the same time.
"""

from __future__ import annotations

import os
import sqlite3
from contextlib import contextmanager

from ad_data_lake_spark.commit_protocol import CommitState, PreconditionFailed

# canonical-state database inside a table directory
TABLE_COMMIT_DB = "_commit.sqlite"

_SCHEMA = (
    "CREATE TABLE IF NOT EXISTS objects ("
    "key TEXT PRIMARY KEY, data BLOB NOT NULL, gen INTEGER NOT NULL)"
)


class SqliteConditionalStore:
    """Conditional-put over one sqlite database file. Connections are
    per-operation (open → transact → close): sqlite serializes writers
    with its own file locking, so this store is safe across processes
    with zero shared in-memory state, and the ``timeout`` gives waiters
    bounded blocking instead of instant SQLITE_BUSY failures. The
    database file and its table are created by the first operation,
    not by the constructor."""

    def __init__(self, db_path: str, timeout: float = 30.0):
        self.db_path = db_path
        self.timeout = timeout

    def _connect(self) -> sqlite3.Connection:
        # isolation_level=None -> autocommit; transactions are explicit
        # (BEGIN IMMEDIATE) so the write lock is taken up front, not
        # lazily at first write (which would widen the race window)
        con = sqlite3.connect(
            self.db_path, timeout=self.timeout, isolation_level=None
        )
        try:
            con.execute(_SCHEMA)  # no-op once the table exists
        except BaseException:
            con.close()
            raise
        return con

    @contextmanager
    def _immediate(self):
        """One ``BEGIN IMMEDIATE`` transaction: the write lock is taken
        up front, COMMIT on normal exit, ROLLBACK on any exception."""
        con = self._connect()
        try:
            con.execute("BEGIN IMMEDIATE")
            try:
                yield con
                con.execute("COMMIT")
            except BaseException:
                try:
                    con.execute("ROLLBACK")
                except sqlite3.Error:
                    pass  # already rolled back (e.g. the conn died)
                raise
        finally:
            con.close()

    def get(self, key: str) -> tuple[bytes, str] | None:
        con = self._connect()
        try:
            row = con.execute(
                "SELECT data, gen FROM objects WHERE key = ?", (key,)
            ).fetchone()
            return (bytes(row[0]), str(row[1])) if row is not None else None
        finally:
            con.close()

    def put_if(
        self,
        key: str,
        data: bytes,
        *,
        if_match: str | None = None,
        if_none_match: bool = False,
    ) -> str:
        with self._immediate() as con:  # write lock now; CAS is atomic
            row = con.execute(
                "SELECT gen FROM objects WHERE key = ?", (key,)
            ).fetchone()
            if if_none_match and row is not None:
                raise PreconditionFailed(f"{self.db_path}:{key} already exists")
            if if_match is not None and (row is None or str(row[0]) != if_match):
                raise PreconditionFailed(f"{self.db_path}:{key} etag mismatch")
            gen = (int(row[0]) + 1) if row is not None else 1
            con.execute(
                "INSERT INTO objects (key, data, gen) VALUES (?, ?, ?) "
                "ON CONFLICT(key) DO UPDATE SET "
                "data = excluded.data, gen = excluded.gen",
                (key, bytes(data), gen),
            )
        return str(gen)


# the commit-state files of tables written before this arbiter; only
# _adopt reads them, and nothing writes them
_PTR = "_CURRENT"
_LOG = "_VERSIONS"
_NB = "_BUCKETS"


def _file_current(target_path: str) -> str | None:
    try:
        with open(os.path.join(target_path, _PTR)) as f:
            return f.read().strip() or None
    except FileNotFoundError:
        return None


def _file_versions(target_path: str) -> list[str]:
    try:
        with open(os.path.join(target_path, _LOG)) as f:
            return [line.strip() for line in f if line.strip()]
    except FileNotFoundError:
        return []


def _file_buckets(target_path: str) -> int | None:
    try:
        with open(os.path.join(target_path, _NB)) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return None


class SqliteTableCommitStore(SqliteConditionalStore):
    """The versioned-lake table layout arbitered by sqlite (see module
    docstring). The first ``put_if``, or the adoption of a files-only
    table, creates the ``_commit.sqlite`` database."""

    def __init__(self, target_path: str, timeout: float = 30.0):
        self.target_path = target_path
        super().__init__(os.path.join(target_path, TABLE_COMMIT_DB), timeout)

    def get(self, key: str) -> tuple[bytes, str] | None:
        # no database: nothing committed here, unless the table predates
        # the arbiter; either way opening one would create it
        got = super().get(key) if os.path.exists(self.db_path) else None
        return got if got is not None else self._adopt(key)

    def _adopt(self, key: str) -> tuple[bytes, str] | None:
        """Seed an absent row from the table's files (see module
        docstring, "Adoption"); None, with no database created, for a
        directory with no such files. The row is re-checked under the
        write lock, so of N racing adopters one seeds and the rest read
        its seed."""
        current = _file_current(self.target_path)
        versions = _file_versions(self.target_path)
        if current is None and not versions:
            return None
        with self._immediate() as con:
            row = con.execute(
                "SELECT data, gen FROM objects WHERE key = ?", (key,)
            ).fetchone()
            if row is None:
                data = CommitState(
                    tuple(versions), current, _file_buckets(self.target_path)
                ).to_bytes()
                con.execute(
                    "INSERT INTO objects (key, data, gen) VALUES (?, ?, 1)",
                    (key, data),
                )
                row = (data, 1)
        return bytes(row[0]), str(row[1])


__all__ = ["SqliteConditionalStore", "SqliteTableCommitStore", "TABLE_COMMIT_DB"]
