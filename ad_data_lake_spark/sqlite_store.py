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
  sqlite as its commit arbiter. The canonical ``CommitState`` lives in
  ``<table>/_commit.sqlite`` (created on the table's first commit by
  ``incremental._publish``/``vacuum``); the
  ``_CURRENT``/``_VERSIONS``/``_BUCKETS`` files are decomposed inside
  the same transaction as a read projection, so every reader
  (``read_merged``, time travel, GC, ``lake_stats``) works unchanged.

Crash window note for the table store: a writer dying between the file
decomposition and the sqlite COMMIT leaves the files one commit AHEAD
of the arbiter (sqlite rolls its transaction back; the file writes are
not transactional). The pointed-at directory is complete (data is
written before any publish), so readers only ever see whole versions —
and the window is self-healing via HEAL-ON-READ: every publish begins
with ``get``, which re-projects the arbiter's canonical state over the
files whenever the pointers disagree (r12 — a put_if-only heal was
circular: merges derive their CAS base from the FILES, so an ahead
projection made every merge CAS-fail forever before any put_if could
re-decompose). What can never happen is two writers interleaving their
file writes: decomposition and the heal both run only while holding
sqlite's write lock, so files advance strictly in commit order.

Adoption: a table whose commit state lives only in its
``_CURRENT``/``_VERSIONS``/``_BUCKETS`` files (written by a release
that arbitered commits with a per-table file lock, or by hand) has no
database row yet. Its first ``get`` seeds the row from those files,
under ``BEGIN IMMEDIATE`` and only while the row is still absent, so N
processes racing to adopt one table agree on a single seed and then
CAS against it as usual. The same rule covers a FIRST commit that died
between its file decomposition and COMMIT: its version directory is
complete and the files already point at it, so it is adopted as
published rather than wedging every later merge. Adoption makes the
database the arbiter from then on, so an old release and this one must
not write the same table at the same time — the old release would
commit through its file lock, which this store never consults.
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
            self._in_transaction(key, data)
        return str(gen)

    def _in_transaction(self, key: str, data: bytes) -> None:
        """Subclass hook: runs after the conditional write, before
        COMMIT, while sqlite's write lock is held — i.e. serialized in
        commit order across every writer."""


class SqliteTableCommitStore(SqliteConditionalStore):
    """The versioned-lake table layout arbitered by sqlite (see module
    docstring). Constructing it creates the table directory if it is
    missing; the first ``get`` or ``put_if`` creates the
    ``_commit.sqlite`` database."""

    def __init__(self, target_path: str, timeout: float = 30.0):
        self.target_path = target_path
        os.makedirs(target_path, exist_ok=True)
        super().__init__(os.path.join(target_path, TABLE_COMMIT_DB), timeout)

    def get(self, key: str) -> tuple[bytes, str] | None:
        from ad_data_lake_spark import incremental

        got = super().get(key)
        if got is None:
            return self._adopt(key)
        # heal-on-read for the files-AHEAD crash window (writer died
        # between its file decomposition and the sqlite COMMIT): the
        # arbiter rolled back but the files name the never-committed
        # version, so every merge derives a base the arbiter rejects
        # and retries forever off the same files — the sqlite mirror of
        # the HTTP backend's wedge (r12 review). Cheap guard first: only
        # re-project when the files' pointer disagrees with the
        # arbiter's truth. The projection runs under its own BEGIN
        # IMMEDIATE so it serializes against writers' decompositions,
        # and it RE-READS the arbiter state inside that lock (r13 — the
        # pre-lock SELECT can be one commit BEHIND a writer whose
        # put_if already decomposed newer files inside its still-open
        # transaction; projecting the stale snapshot would move the
        # files BACKWARDS, breaking the strictly-in-commit-order
        # invariant). A LOCAL failure is best-effort on the read path
        # (the state is already in hand; the next successful sync
        # heals) — including SQLITE_BUSY on the BEGIN IMMEDIATE under
        # writer contention.
        state = CommitState.from_bytes(got[0])
        if incremental._current_version(self.target_path) != state.current:
            try:
                with self._immediate() as con:
                    row = con.execute(
                        "SELECT data FROM objects WHERE key = ?", (key,)
                    ).fetchone()
                    if row is not None:
                        fresh = CommitState.from_bytes(bytes(row[0]))
                        if (
                            incremental._current_version(self.target_path)
                            != fresh.current
                        ):
                            incremental._project_state(self.target_path, fresh)
            except (OSError, sqlite3.OperationalError):
                pass  # read succeeded; projection heals next sync
        return got

    def _adopt(self, key: str) -> tuple[bytes, str] | None:
        """Seed an absent row from the table's files (see module
        docstring, "Adoption"); None for a table with no commit yet.
        The row is re-checked under the write lock, so of N racing
        adopters one seeds and the rest read its seed."""
        from ad_data_lake_spark import incremental

        with self._immediate() as con:
            row = con.execute(
                "SELECT data, gen FROM objects WHERE key = ?", (key,)
            ).fetchone()
            if row is None:
                current = incremental._current_version(self.target_path)
                versions = incremental._version_history(self.target_path)
                if current is None and not versions:
                    return None  # fresh table: no commit object yet
                data = CommitState(
                    tuple(versions),
                    current,
                    incremental._stored_buckets(self.target_path),
                ).to_bytes()
                con.execute(
                    "INSERT INTO objects (key, data, gen) VALUES (?, ?, 1)",
                    (key, data),
                )
                row = (data, 1)
        return bytes(row[0]), str(row[1])

    def _in_transaction(self, key: str, data: bytes) -> None:
        # decompose the winning state to the table files (the read
        # projection) while holding the write lock: file writes happen
        # strictly in commit order, and readers keep resolving _CURRENT
        # without ever opening the database
        from ad_data_lake_spark import incremental

        incremental._project_state(
            self.target_path, CommitState.from_bytes(data)
        )


__all__ = ["SqliteConditionalStore", "SqliteTableCommitStore", "TABLE_COMMIT_DB"]
