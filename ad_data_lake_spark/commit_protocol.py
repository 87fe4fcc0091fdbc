"""The versioned-lake commit protocol over a store-agnostic
conditional-put primitive (SURVEY §2.9 T20, VERDICT r9 "what's
missing" #2).

``incremental.py``'s MERGE publishes are optimistic-concurrency
commits: compute from a base version, then atomically advance the
table's commit state ONLY IF nobody advanced it in between (the Delta
commit protocol's shape). On a host-local filesystem that
"only if" needs a transactional store, because POSIX has no
compare-and-swap across files. On every real object store it does
not: S3 (conditional writes: ``If-Match`` / ``If-None-Match`` on
PUT), GCS (``ifGenerationMatch``), and Azure Blob (ETag preconditions) all
provide server-side conditional-put — which is exactly the primitive
Delta Lake commits through on those stores.

This module is that seam, so the 100 TB deployment story is code, not
a docstring:

- :class:`ConditionalStore` — the two-method contract a backend must
  provide (``get`` returning bytes+etag, ``put_if`` with
  ``if_match``/``if_none_match`` preconditions). Mapping per store:
  S3 ``PutObject`` + ``If-Match: <etag>`` / ``If-None-Match: *``;
  GCS ``ifGenerationMatch=<gen>`` / ``=0``; Azure
  ``x-ms-if-match`` / ``If-None-Match: *``.
- :class:`CommitState` — the table's entire commit metadata (ordered
  version log, current pointer, bucket count) serialized as ONE
  canonical JSON object, so a single conditional-put covers the whole
  transition; torn multi-file reads cannot exist by construction.
- :func:`cas_publish` — the commit itself: read state, verify the
  caller's base version is still current, append, retain-truncate,
  conditional-put. A precondition failure IS the lost-update signal
  and surfaces as :class:`ConcurrentWriteError`; callers recompute
  off the new current and retry (``incremental.merge_upsert`` already
  does, bounded by its attempt budget).
- :class:`MemoryConditionalStore` — the in-memory reference backend:
  put_if is atomic under an internal mutex, standing in for the
  store's server-side atomicity. The concurrency tests hammer it with
  racing writers and NO table lock anywhere — proving the protocol
  needs nothing a conditional-put store doesn't give. There is no
  lock-break path at all in this form (a crashed writer holds
  nothing; its orphan version directory is reclaimed by the same
  age-gated GC).

Durable/network backends: ``sqlite_store.SqliteConditionalStore``
(transactional CAS — one BEGIN IMMEDIATE per put_if) and
``http_store.HttpConditionalStore`` (the S3 wire shape itself:
GET/PUT + If-Match/If-None-Match + 412, tested against a reference
etag server over real sockets). Their table adapters
(``SqliteTableCommitStore``, the host-local default, and
``HttpTableCommitStore``) hold each table's :class:`CommitState` and
are its only record: readers ask the same store the publish writes
through. A host-local table and an object-store table therefore run
the SAME publish and read code, differing only in which store
``incremental._commit_store`` hands them. All backends run the
identical publish script in tests/test_commit_protocol.py.
"""

from __future__ import annotations

import json
import threading
import uuid
from dataclasses import dataclass
from typing import Protocol

COMMIT_KEY = "commit"
_UNSET = object()


class ConcurrentWriteError(RuntimeError):
    """The table's commit state advanced between a merge's base read
    and its publish — committing would silently discard the other
    writer's merge (the classic lost update). Callers re-run the merge
    off the new current; ``merge_upsert``/``cdc_apply`` do so
    automatically up to their attempt budget."""


class PreconditionFailed(Exception):
    """The store rejected a conditional put (etag/generation mismatch
    or the object already exists) — the raw store-level signal
    ``cas_publish`` translates into :class:`ConcurrentWriteError`."""


class ConditionalStore(Protocol):
    """What a commit backend must provide. ``etag`` is any opaque
    token that changes on every successful put of the key."""

    def get(self, key: str) -> tuple[bytes, str] | None:
        """(data, etag) or None if the key does not exist."""
        ...

    def put_if(
        self,
        key: str,
        data: bytes,
        *,
        if_match: str | None = None,
        if_none_match: bool = False,
    ) -> str:
        """Atomic conditional write; returns the new etag. Raises
        :class:`PreconditionFailed` when ``if_match`` doesn't match
        the stored etag, or ``if_none_match`` and the key exists."""
        ...


@dataclass(frozen=True)
class CommitState:
    """A table's full commit metadata as one CAS unit. ``versions`` is
    the ordered publish log (oldest first; a state adopted from a
    table written before its arbiter may carry a crashed writer's
    never-published tail AFTER ``current`` — consumers truncate at the
    pointer with :meth:`published`)."""

    versions: tuple[str, ...]
    current: str | None
    n_buckets: int | None

    def to_bytes(self) -> bytes:
        return json.dumps(
            {
                "versions": list(self.versions),
                "current": self.current,
                "n_buckets": self.n_buckets,
            },
            sort_keys=True,
        ).encode()

    @staticmethod
    def from_bytes(data: bytes) -> "CommitState":
        d = json.loads(data)
        return CommitState(
            tuple(d["versions"]), d["current"], d["n_buckets"]
        )

    def published(self) -> list[str]:
        """The log truncated at the current pointer (a tail past the
        pointer is a crashed writer's orphan, never a readable
        prior). A log with NO pointer at all is a FIRST commit that
        crashed between writing its log and its pointer (possible only
        where those were separate files, i.e. in an adopted state) —
        nothing was ever readable, so nothing is a prior: the whole log is
        orphan tail and the next publish starts the history fresh
        (its ``PublishResult.logged`` still names the tail, so the
        orphan directory GCs immediately)."""
        if self.current is None:
            return []
        vs = list(self.versions)
        if self.current in vs:
            vs = vs[: vs.index(self.current) + 1]
        return vs


@dataclass(frozen=True)
class PublishResult:
    kept: tuple[str, ...]  # the post-commit retained log
    logged: frozenset[str]  # every version name the log EVER named
    # (pre-commit log ∪ new log) — the GC-eligible-immediately set


def cas_publish(
    store: ConditionalStore,
    new_version: str,
    *,
    base_version: object = _UNSET,
    retain: int = 3,
    n_buckets: int | None = None,
    key: str = COMMIT_KEY,
) -> PublishResult:
    """One publish attempt against ``store`` — the whole commit is a
    single conditional-put of the new :class:`CommitState`:

    1. ``get`` the current state (etag = the CAS token);
    2. verify ``base_version`` is still the current pointer — if not,
       another writer landed first and committing would discard their
       merge: raise :class:`ConcurrentWriteError` (recompute, retry);
    3. append ``new_version`` to the pointer-truncated history, keep
       the newest ``retain``, carry/record the bucket count;
    4. ``put_if`` keyed on the etag read in (1) — losing THIS race
       (a writer landed between get and put) is the same lost-update
       signal and raises the same error.

    Version DATA directories are written by the caller before this
    commit and garbage-collected by the caller after it (using
    ``PublishResult.logged`` + the age-gated orphan rule); a writer
    that crashes anywhere before the put_if leaves the table state
    untouched — there is no lock to break, which is why this form
    needs no liveness logic at all."""
    got = store.get(key)
    if got is None:
        state, etag = CommitState((), None, None), None
    else:
        state, etag = CommitState.from_bytes(got[0]), got[1]
    if base_version is not _UNSET and state.current != base_version:
        raise ConcurrentWriteError(
            f"commit state is at {state.current!r}, but this merge was "
            f"computed from {base_version!r} — another writer published "
            "in between; recompute off the new current"
        )
    history = [v for v in state.published() if v != new_version]
    history.append(new_version)
    kept = tuple(history[-max(1, retain):])
    new_state = CommitState(
        kept,
        new_version,
        n_buckets if n_buckets is not None else state.n_buckets,
    )
    try:
        if etag is None:
            store.put_if(key, new_state.to_bytes(), if_none_match=True)
        else:
            store.put_if(key, new_state.to_bytes(), if_match=etag)
    except PreconditionFailed as exc:
        raise ConcurrentWriteError(
            f"commit state advanced between read and conditional-put "
            f"while publishing {new_version!r} — recompute and retry"
        ) from exc
    return PublishResult(kept, frozenset(state.versions) | frozenset(history))


class MemoryConditionalStore:
    """Reference backend: a dict with server-side-atomic conditional
    puts (the mutex plays the store's internal serialization — S3/GCS
    give this guarantee per object). Used by the protocol tests to
    prove lock-free multi-writer publishes, and as the template for a
    real object-store adapter (swap dict ops for the store's
    conditional calls; keep NOTHING else)."""

    def __init__(self):
        self._lock = threading.Lock()
        self._objects: dict[str, tuple[bytes, str]] = {}

    def get(self, key: str) -> tuple[bytes, str] | None:
        with self._lock:
            return self._objects.get(key)

    def put_if(
        self,
        key: str,
        data: bytes,
        *,
        if_match: str | None = None,
        if_none_match: bool = False,
    ) -> str:
        with self._lock:
            cur = self._objects.get(key)
            if if_none_match and cur is not None:
                raise PreconditionFailed(f"{key} already exists")
            if if_match is not None and (cur is None or cur[1] != if_match):
                raise PreconditionFailed(f"{key} etag mismatch")
            etag = uuid.uuid4().hex
            self._objects[key] = (bytes(data), etag)
            return etag


__all__ = [
    "COMMIT_KEY",
    "CommitState",
    "ConcurrentWriteError",
    "ConditionalStore",
    "MemoryConditionalStore",
    "PreconditionFailed",
    "PublishResult",
    "cas_publish",
]
