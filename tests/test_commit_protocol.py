"""Store-agnostic commit protocol (commit_protocol.py) — the seam that
makes the versioned lake's publish run identically over a host-local
filesystem (lock-emulated conditional-put) and an object store's
native conditional-put. No Spark anywhere: the protocol is pure
metadata."""

from __future__ import annotations

import os
import threading

import pytest

from ad_data_lake_spark import incremental
from ad_data_lake_spark.commit_protocol import (
    COMMIT_KEY,
    CommitState,
    ConcurrentWriteError,
    MemoryConditionalStore,
    PreconditionFailed,
    cas_publish,
)


def test_publish_sequence_and_retention():
    store = MemoryConditionalStore()
    for i in range(5):
        res = cas_publish(store, f"v-{i:04d}", retain=3)
        assert res.kept[-1] == f"v-{i:04d}"
    state = CommitState.from_bytes(store.get(COMMIT_KEY)[0])
    assert state.current == "v-0004"
    assert list(state.versions) == ["v-0002", "v-0003", "v-0004"]
    assert state.published() == ["v-0002", "v-0003", "v-0004"]


def test_base_version_cas_rejects_stale_writer():
    store = MemoryConditionalStore()
    cas_publish(store, "v-0")
    # A computes from v-0; B lands first; A must fail and retry off v-1
    cas_publish(store, "v-b", base_version="v-0")
    with pytest.raises(ConcurrentWriteError):
        cas_publish(store, "v-a", base_version="v-0")
    res = cas_publish(store, "v-a", base_version="v-b")  # recompute, retry
    assert list(res.kept) == ["v-0", "v-b", "v-a"]


def test_get_to_put_race_is_caught_by_the_etag():
    """A writer can pass the base check and still lose to a publish
    landing between its get and its put — the conditional-put itself
    must catch that (the window the file backend closes with its lock
    and an object store closes server-side)."""

    class RacingStore(MemoryConditionalStore):
        def __init__(self):
            super().__init__()
            self.fired = False

        def get(self, key):
            got = super().get(key)
            if not self.fired and got is not None:
                self.fired = True
                cas_publish(self, "v-intruder")  # lands after the get
            return got

    store = RacingStore()
    cas_publish(store, "v-0")
    with pytest.raises(ConcurrentWriteError):
        # base check passes (v-0 was current at get time); the
        # conditional put must still refuse
        cas_publish(store, "v-loser", base_version="v-0")
    state = CommitState.from_bytes(store.get(COMMIT_KEY)[0])
    assert state.current == "v-intruder"


def test_first_write_create_race_single_winner():
    class CreateRace(MemoryConditionalStore):
        def __init__(self):
            super().__init__()
            self.fired = False

        def get(self, key):
            got = super().get(key)
            if not self.fired and got is None:
                self.fired = True
                cas_publish(self, "v-first")  # another first-writer lands
            return got

    store = CreateRace()
    with pytest.raises(ConcurrentWriteError):
        cas_publish(store, "v-second", base_version=None)
    state = CommitState.from_bytes(store.get(COMMIT_KEY)[0])
    assert state.current == "v-first"


def test_lock_free_multi_writer_hammer():
    """8 threads x 10 publishes, NO table lock anywhere — only the
    store's conditional-put (its internal mutex stands in for S3/GCS
    server-side atomicity). Every publish must eventually land via the
    read-current/recompute/retry loop; the final log is consistent."""
    store = MemoryConditionalStore()
    cas_publish(store, "v-seed")
    landed = []
    landed_lock = threading.Lock()

    def writer(tid: int):
        for i in range(10):
            name = f"v-t{tid}i{i}"
            while True:
                got = store.get(COMMIT_KEY)
                base = CommitState.from_bytes(got[0]).current
                try:
                    cas_publish(store, name, base_version=base, retain=100)
                    break
                except ConcurrentWriteError:
                    continue
            with landed_lock:
                landed.append(name)

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(landed) == 80
    state = CommitState.from_bytes(store.get(COMMIT_KEY)[0])
    # every landed publish is in the (untruncated, retain=100) log,
    # exactly once, in a consistent order ending at the current pointer
    assert len(state.versions) == 81  # seed + 80
    assert len(set(state.versions)) == 81
    assert state.current == state.versions[-1]
    assert set(landed) == set(state.versions) - {"v-seed"}


def test_crashed_first_commit_tail_is_not_a_readable_prior():
    """A writer crashing between the FIRST commit's log write and its
    pointer write leaves versions=[v1], current=None. That tail was
    never readable, so published() must be EMPTY — and the next
    publish must start the history fresh rather than retaining the
    never-pointed version as a prior (while still naming it in
    ``logged`` so its directory GCs immediately)."""
    crashed = CommitState(("v-crashed",), None, None)
    assert crashed.published() == []

    store = MemoryConditionalStore()
    store.put_if(COMMIT_KEY, crashed.to_bytes(), if_none_match=True)
    res = cas_publish(store, "v-real", base_version=None)
    assert list(res.kept) == ["v-real"]
    assert "v-crashed" in res.logged  # GC-eligible immediately
    state = CommitState.from_bytes(store.get(COMMIT_KEY)[0])
    assert state.current == "v-real"
    assert state.published() == ["v-real"]


def test_crashed_first_commit_interleave_on_file_backend(tmp_path):
    """The same crashed-first-commit state in a table's arbiter: a log
    naming a version with no pointer (what adopting a table whose
    first file-era commit crashed yields). The next ``_publish`` must
    land as the first readable version, report a depth-1 history, and
    GC the crashed directory (logged → immediately eligible, no grace
    wait)."""
    from ad_data_lake_spark.sqlite_store import SqliteTableCommitStore

    target = str(tmp_path / "crashfirst_t")
    os.makedirs(os.path.join(target, "v-crashed"))
    os.makedirs(os.path.join(target, "v-real"))
    crashed = CommitState(("v-crashed",), None, None)
    SqliteTableCommitStore(target).put_if(
        COMMIT_KEY, crashed.to_bytes(), if_none_match=True
    )

    assert incremental._state(target).published() == []
    incremental._publish(target, "v-real", base_version=None)
    state = incremental._state(target)
    assert state.current == "v-real"
    assert state.published() == ["v-real"]
    assert not os.path.isdir(os.path.join(target, "v-crashed"))
    assert os.path.isdir(os.path.join(target, "v-real"))


def test_crash_before_put_leaves_state_untouched():
    store = MemoryConditionalStore()
    cas_publish(store, "v-0")
    before = store.get(COMMIT_KEY)
    # a crashed writer = one that read state and never called put_if;
    # there is nothing to clean up and nothing to break
    assert store.get(COMMIT_KEY) == before


def _script(store) -> list:
    """A fixed interleave script returning observable outcomes — run
    against both backends to prove behavioral equivalence."""
    out = []
    cas_publish(store, "v-0001", base_version=None, retain=2, n_buckets=8)
    cas_publish(store, "v-0002", base_version="v-0001", retain=2)
    try:
        cas_publish(store, "v-0003", base_version="v-0001", retain=2)
        out.append("stale-accepted")
    except ConcurrentWriteError:
        out.append("stale-rejected")
    res = cas_publish(store, "v-0003", base_version="v-0002", retain=2)
    out.append(tuple(res.kept))
    state = CommitState.from_bytes(store.get(COMMIT_KEY)[0])
    out.append((state.current, tuple(state.versions), state.n_buckets))
    return out


def test_all_backends_are_equivalent(tmp_path):
    """The SAME publish script produces the SAME observable commit
    states over the in-memory conditional-put store, the generic sqlite
    store (transactional conditional-put), and the sqlite-arbitered
    table store — the property that makes the backend swappable."""
    from ad_data_lake_spark.sqlite_store import (
        SqliteConditionalStore,
        SqliteTableCommitStore,
    )

    mem = _script(MemoryConditionalStore())
    sql = _script(SqliteConditionalStore(str(tmp_path / "kv.sqlite")))
    starget = str(tmp_path / "sqlite_t")
    os.makedirs(starget)
    stab = _script(SqliteTableCommitStore(starget))
    assert mem == sql == stab
    # and the table's readers see exactly the arbiter's state
    assert incremental._state(starget) == CommitState(
        ("v-0002", "v-0003"), "v-0003", 8
    )


def test_sqlite_store_multi_writer_hammer(tmp_path):
    """The lock-free hammer (8 threads x 10 publishes, retry loop, no
    table lock) against the REAL transactional backend: sqlite's write
    lock is the only serialization. Every publish lands exactly once."""
    import threading

    from ad_data_lake_spark.sqlite_store import SqliteConditionalStore

    store = SqliteConditionalStore(str(tmp_path / "hammer.sqlite"))
    cas_publish(store, "v-seed")
    landed = []
    landed_lock = threading.Lock()

    def writer(tid: int):
        for i in range(10):
            name = f"v-t{tid}i{i}"
            while True:
                got = store.get(COMMIT_KEY)
                base = CommitState.from_bytes(got[0]).current
                try:
                    cas_publish(store, name, base_version=base, retain=100)
                    break
                except ConcurrentWriteError:
                    continue
            with landed_lock:
                landed.append(name)

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    state = CommitState.from_bytes(store.get(COMMIT_KEY)[0])
    assert len(landed) == 80
    assert len(state.versions) == 81
    assert len(set(state.versions)) == 81
    assert state.current == state.versions[-1]
    assert set(landed) == set(state.versions) - {"v-seed"}


def test_sqlite_writer_killed_mid_transaction_rolls_back(tmp_path):
    """A writer SIGKILLed while holding sqlite's write lock (inside
    BEGIN IMMEDIATE, before COMMIT) must leave no trace: sqlite's
    journal rolls the transaction back on the next open, the write
    lock dies with the process, and a subsequent publish proceeds from
    the pre-crash state — the database's crash recovery plays the role
    the kernel plays for flock, with no break path in either design."""
    import subprocess
    import sys
    import textwrap

    from ad_data_lake_spark.sqlite_store import SqliteConditionalStore

    db = str(tmp_path / "crash.sqlite")
    store = SqliteConditionalStore(db)
    cas_publish(store, "v-seed")
    before = store.get(COMMIT_KEY)

    child = subprocess.Popen(
        [
            sys.executable,
            "-c",
            textwrap.dedent(
                f"""
                import sqlite3, sys
                con = sqlite3.connect({db!r}, isolation_level=None)
                con.execute("BEGIN IMMEDIATE")
                con.execute(
                    "UPDATE objects SET data = X'00', gen = 999 "
                    "WHERE key = 'commit'"
                )
                print("HOLDING", flush=True)
                sys.stdin.readline()  # never comes: killed mid-hold
                """
            ),
        ],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
    )
    assert child.stdout.readline().strip() == b"HOLDING"
    child.kill()  # dies holding the RESERVED lock, uncommitted write pending
    child.wait()

    # state must be exactly the pre-crash state (rollback, not the 999)
    assert store.get(COMMIT_KEY) == before
    # and the table is writable again immediately (lock died with fd)
    res = cas_publish(store, "v-after", base_version="v-seed")
    assert list(res.kept) == ["v-seed", "v-after"]


# ---------------------------------------------------------------------------
# HTTP backend (http_store.py): the same protocol spoken over S3's wire
# shape — GET/PUT + If-Match/If-None-Match + 412 — against the
# reference EtagStoreServer (a MinIO stand-in on a real TCP port).
# ---------------------------------------------------------------------------


def test_http_backend_matches_the_equivalence_script():
    from ad_data_lake_spark.http_store import EtagStoreServer, HttpConditionalStore

    with EtagStoreServer() as url:
        http = _script(HttpConditionalStore(url))
    assert http == _script(MemoryConditionalStore())


def test_http_store_conditional_semantics_raw():
    """The wire contract itself: create-if-absent wins once, stale
    If-Match gets 412 -> PreconditionFailed, etags advance per put."""
    from ad_data_lake_spark.http_store import EtagStoreServer, HttpConditionalStore

    with EtagStoreServer() as url:
        store = HttpConditionalStore(url)
        assert store.get("k") is None
        e1 = store.put_if("k", b"a", if_none_match=True)
        with pytest.raises(PreconditionFailed):
            store.put_if("k", b"b", if_none_match=True)
        data, etag = store.get("k")
        assert (data, etag) == (b"a", e1)
        e2 = store.put_if("k", b"b", if_match=e1)
        assert e2 != e1
        with pytest.raises(PreconditionFailed):
            store.put_if("k", b"c", if_match=e1)  # stale etag
        assert store.get("k")[0] == b"b"


def test_http_store_multi_writer_hammer():
    """8 threads x 10 publishes over real sockets, retry loop, no table
    lock: the server-side mutex is the only serialization. Every
    publish lands exactly once — the lock-free invariant holds across
    a network hop."""
    import threading as th

    from ad_data_lake_spark.http_store import EtagStoreServer, HttpConditionalStore

    with EtagStoreServer() as url:
        store = HttpConditionalStore(url)
        cas_publish(store, "v-seed")
        landed = []
        landed_lock = th.Lock()

        def writer(tid: int):
            mine = HttpConditionalStore(url)  # own client per thread
            for i in range(10):
                name = f"v-t{tid}i{i}"
                while True:
                    base = CommitState.from_bytes(mine.get(COMMIT_KEY)[0]).current
                    try:
                        cas_publish(mine, name, base_version=base, retain=100)
                        break
                    except ConcurrentWriteError:
                        continue
                with landed_lock:
                    landed.append(name)

        threads = [th.Thread(target=writer, args=(t,)) for t in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        state = CommitState.from_bytes(store.get(COMMIT_KEY)[0])
    assert len(landed) == 80
    assert len(state.versions) == 81
    assert len(set(state.versions)) == 81
    assert state.current == state.versions[-1]


def test_http_store_cross_process_churn():
    """4 writer PROCESSES x 5 publishes each against one server — the
    multi-host shape for real: every writer is a separate client over
    TCP, retrying on ConcurrentWriteError; all 20 publishes land."""
    import subprocess
    import sys
    import textwrap

    from ad_data_lake_spark.http_store import EtagStoreServer, HttpConditionalStore

    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, {repo!r})
        from ad_data_lake_spark.commit_protocol import (
            COMMIT_KEY, CommitState, ConcurrentWriteError, cas_publish)
        from ad_data_lake_spark.http_store import HttpConditionalStore
        url, wid = sys.argv[1], sys.argv[2]
        store = HttpConditionalStore(url)
        for i in range(5):
            while True:
                got = store.get(COMMIT_KEY)
                base = CommitState.from_bytes(got[0]).current if got else None
                try:
                    cas_publish(store, f"v-p{{wid}}i{{i}}",
                                base_version=base, retain=100)
                    break
                except ConcurrentWriteError:
                    continue
        """
    ).format(repo=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    with EtagStoreServer() as url:
        procs = [
            subprocess.Popen([sys.executable, "-c", script, url, str(w)])
            for w in range(4)
        ]
        for p in procs:
            assert p.wait(timeout=120) == 0
        store = HttpConditionalStore(url)
        state = CommitState.from_bytes(store.get(COMMIT_KEY)[0])
    assert len(state.versions) == 20
    assert len(set(state.versions)) == 20
    assert state.current == state.versions[-1]


def test_http_client_killed_between_get_and_put_leaves_no_trace():
    """A client that dies BETWEEN its base read and its put holds
    nothing server-side (conditional-put stores have no client lock to
    orphan) — the next writer publishes immediately, and the dead
    writer's intended version never appears."""
    from ad_data_lake_spark.http_store import EtagStoreServer, HttpConditionalStore

    with EtagStoreServer() as url:
        store = HttpConditionalStore(url)
        cas_publish(store, "v-0001")
        # simulated death: a writer read state... and vanished. No
        # cleanup, no lock release, no heartbeat. The store is simply
        # untouched, so the next publish proceeds.
        _abandoned_base = CommitState.from_bytes(store.get(COMMIT_KEY)[0]).current
        res = cas_publish(store, "v-0002", base_version="v-0001")
        state = CommitState.from_bytes(store.get(COMMIT_KEY)[0])
    assert state.current == "v-0002"
    assert "v-dead" not in state.versions and len(state.versions) == 2
    assert res.kept[-1] == "v-0002"


# ---------------------------------------------------------------------------
# HTTP TABLE backend (http_store.HttpTableCommitStore): a versioned
# table whose commit state lives only at the S3-wire endpoint — plus
# the ambiguous-PUT recovery rule real conditional writes need.
# ---------------------------------------------------------------------------


def test_http_table_store_matches_the_equivalence_script(tmp_path):
    """The fourth table adapter runs the identical publish script, and
    the table's readers resolve the identical state from it — backend
    swap changes the durability story, not one observable byte."""
    from ad_data_lake_spark.http_store import EtagStoreServer, HttpTableCommitStore

    target = str(tmp_path / "http_t")
    with EtagStoreServer() as url:
        out = _script(HttpTableCommitStore(target, base_url=url))
        state = incremental._state(target)
    assert out == _script(MemoryConditionalStore())
    assert state == CommitState(("v-0002", "v-0003"), "v-0003", 8)


def test_http_table_marker_routes_commit_store(tmp_path):
    """Planting the _commit.http marker commits the table to the HTTP
    arbiter for life: _commit_store re-opens the SAME endpoint + key
    from the marker alone, with no configuration anywhere else."""
    from ad_data_lake_spark.http_store import (
        EtagStoreServer,
        HttpTableCommitStore,
    )

    target = str(tmp_path / "routed_t")
    with EtagStoreServer() as url:
        HttpTableCommitStore(target, base_url=url)  # plants the marker
        store = incremental._commit_store(target)
        assert isinstance(store, HttpTableCommitStore)
        cas_publish(store, "v-0001")
        # a second resolve (another writer, another process in spirit)
        again = incremental._commit_store(target)
        res = cas_publish(again, "v-0002", base_version="v-0001")
        assert list(res.kept) == ["v-0001", "v-0002"]
        assert incremental._state(target).current == "v-0002"


def test_http_put_recovery_response_lost_after_commit():
    """Connection dies AFTER the server committed: recovery GETs, sees
    its own bytes, and reports success with the landed etag — the
    publish is not double-applied and not falsely failed."""
    from ad_data_lake_spark.http_store import EtagStoreServer, HttpConditionalStore

    srv = EtagStoreServer()
    with srv as url:
        c = HttpConditionalStore(url, timeout=5.0)
        e1 = c.put_if("k", b"v1", if_none_match=True)
        srv.inject_put_fault("after_commit")
        e2 = c.put_if("k", b"v2", if_match=e1)
        data, cur = c.get("k")
    assert (data, cur) == (b"v2", e2)


def test_http_put_recovery_connection_lost_before_commit():
    """Connection dies BEFORE the server applied anything: recovery
    GETs, sees the precondition still open (etag unmoved), and
    re-sends the PUT — exactly-once from the caller's view."""
    from ad_data_lake_spark.http_store import EtagStoreServer, HttpConditionalStore

    srv = EtagStoreServer()
    with srv as url:
        c = HttpConditionalStore(url, timeout=5.0)
        e1 = c.put_if("k", b"v1", if_none_match=True)
        srv.inject_put_fault("before_commit")
        e2 = c.put_if("k", b"v2", if_match=e1)
        data, cur = c.get("k")
    assert (data, cur) == (b"v2", e2)
    assert e2 != e1


def test_http_put_recovery_lost_race_surfaces_precondition():
    """Ambiguous PUT whose precondition is GONE on read-back (another
    writer advanced the etag, bytes are not ours) surfaces the normal
    PreconditionFailed, so cas_publish retries off the new state —
    never a silent overwrite, never a false success."""
    from ad_data_lake_spark.http_store import EtagStoreServer, HttpConditionalStore

    srv = EtagStoreServer()
    with srv as url:
        c = HttpConditionalStore(url, timeout=5.0)
        e1 = c.put_if("k", b"v1", if_none_match=True)
        e2 = c.put_if("k", b"v2", if_match=e1)  # rival advanced the state
        srv.inject_put_fault("before_commit")
        with pytest.raises(PreconditionFailed):
            c.put_if("k", b"v3", if_match=e1)  # stale + ambiguous drop
        assert c.get("k") == (b"v2", e2)


def test_http_put_recovery_server_gone_is_ambiguous_error():
    """If the endpoint stays unreachable through every recovery round
    the outcome is genuinely unknown: a bounded RuntimeError surfaces
    (never a fabricated success or failure)."""
    from ad_data_lake_spark.http_store import EtagStoreServer, HttpConditionalStore

    srv = EtagStoreServer()
    with srv as url:
        c = HttpConditionalStore(url, timeout=2.0)
        e1 = c.put_if("k", b"v1", if_none_match=True)
    # server is now down; conditional PUT cannot resolve its outcome
    c.recovery_attempts = 2
    c.recovery_backoff = 0.01
    with pytest.raises(RuntimeError, match="ambiguous"):
        c.put_if("k", b"v2", if_match=e1)


def test_http_recovery_stats_count_each_resolution():
    """r13 ADVICE: the ambiguous-PUT rule is now observable — the
    client counts each recovery by how the read-back resolved it
    (landed / resent / lost), so the arbiter bench reports measured
    recoveries instead of promising them."""
    from ad_data_lake_spark.http_store import EtagStoreServer, HttpConditionalStore

    srv = EtagStoreServer()
    with srv as url:
        c = HttpConditionalStore(url, timeout=5.0)
        e1 = c.put_if("k", b"v1", if_none_match=True)
        assert c.recovery_stats == {
            "ambiguous": 0, "landed": 0, "resent": 0, "lost": 0,
        }
        srv.inject_put_fault("after_commit")
        e2 = c.put_if("k", b"v2", if_match=e1)  # landed, response lost
        assert c.recovery_stats["ambiguous"] == 1
        assert c.recovery_stats["landed"] == 1
        srv.inject_put_fault("before_commit")
        e3 = c.put_if("k", b"v3", if_match=e2)  # never landed, re-sent
        assert c.recovery_stats["ambiguous"] == 2
        assert c.recovery_stats["resent"] == 1
        srv.inject_put_fault("before_commit")
        with pytest.raises(PreconditionFailed):
            c.put_if("k", b"v4", if_match=e1)  # stale base: lost race
        assert c.recovery_stats == {
            "ambiguous": 3, "landed": 1, "resent": 1, "lost": 1,
        }
        assert c.get("k") == (b"v3", e3)


def test_http_recovery_resent_then_response_lost_counts_resent():
    """r14 review: a re-PUT whose own response is ALSO lost, later
    confirmed by read-back, must count as 'resent', not 'landed' —
    we only resend while the precondition provably still holds (the
    original never landed), so the confirmed bytes are the resend's.
    Faults queue: drop the original pre-apply, then drop the re-send
    post-apply."""
    from ad_data_lake_spark.http_store import EtagStoreServer, HttpConditionalStore

    srv = EtagStoreServer()
    with srv as url:
        c = HttpConditionalStore(url, timeout=5.0)
        e1 = c.put_if("k", b"v1", if_none_match=True)
        srv.inject_put_fault("before_commit")  # original: never lands
        srv.inject_put_fault("after_commit")  # re-send: lands, resp lost
        e2 = c.put_if("k", b"v2", if_match=e1)
        assert c.get("k") == (b"v2", e2)
    assert c.recovery_stats["ambiguous"] == 1
    assert c.recovery_stats["resent"] == 1
    assert c.recovery_stats["landed"] == 0
    assert c.recovery_stats["lost"] == 0


def test_http_periodic_landed_drop_mode_recovers_exactly_once():
    """r13 ADVICE: the server's periodic drop used to fire BEFORE the
    PUT body applied, so benches never exercised the
    landed-but-response-lost half of the ambiguity window. The
    drop_put_response_every mode applies the write first; every such
    drop must resolve via read-back as LANDED (bytes are ours), with
    no duplicate and no false failure."""
    from ad_data_lake_spark.http_store import EtagStoreServer, HttpConditionalStore

    srv = EtagStoreServer(drop_put_response_every=3)
    with srv as url:
        c = HttpConditionalStore(url, timeout=5.0)
        etag = c.put_if("k", b"v0", if_none_match=True)
        for i in range(1, 10):
            etag = c.put_if("k", b"v%d" % i, if_match=etag)
        data, cur = c.get("k")
    assert (data, cur) == (b"v9", etag)
    # 10 applied PUTs -> drops on the 3rd/6th/9th, each recovered as
    # landed (read-back saw our bytes), none resent or lost
    assert c.recovery_stats["ambiguous"] == 3
    assert c.recovery_stats["landed"] == 3
    assert c.recovery_stats["resent"] == 0
    assert c.recovery_stats["lost"] == 0


def test_http_table_ambiguous_put_inside_cas_publish(tmp_path):
    """The recovery rule composed with the protocol: a publish whose
    winning PUT's response is lost still completes, and the table's
    readers see the landed state."""
    from ad_data_lake_spark.http_store import EtagStoreServer, HttpTableCommitStore

    target = str(tmp_path / "amb_t")
    srv = EtagStoreServer()
    with srv as url:
        store = HttpTableCommitStore(target, base_url=url)
        cas_publish(store, "v-0001")
        srv.inject_put_fault("after_commit")
        res = cas_publish(store, "v-0002", base_version="v-0001")
        state = incremental._state(target)
    assert list(res.kept) == ["v-0001", "v-0002"]
    assert state.current == "v-0002"


def test_http_table_cross_process_churn(tmp_path):
    """4 writer PROCESSES x 5 publishes each against one endpoint and
    ONE table directory — every writer resolves the arbiter from the
    marker alone (incremental._commit_store), takes its base from
    incremental._state as a merge does, retries on
    ConcurrentWriteError, and every commit lands exactly once."""
    import subprocess
    import sys
    import textwrap

    from ad_data_lake_spark.http_store import EtagStoreServer, HttpTableCommitStore

    target = str(tmp_path / "churn_t")
    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, {repo!r})
        from ad_data_lake_spark import incremental
        from ad_data_lake_spark.commit_protocol import (
            ConcurrentWriteError, cas_publish)
        target, wid = sys.argv[1], sys.argv[2]
        store = incremental._commit_store(target)
        for i in range(5):
            while True:
                state = incremental._state(target)
                base = state.current if state else None
                try:
                    cas_publish(store, f"v-p{{wid}}i{{i}}",
                                base_version=base, retain=100)
                    break
                except ConcurrentWriteError:
                    continue
        """
    ).format(repo=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    with EtagStoreServer() as url:
        store = HttpTableCommitStore(target, base_url=url)  # plant marker
        procs = [
            subprocess.Popen([sys.executable, "-c", script, target, str(w)])
            for w in range(4)
        ]
        for p in procs:
            assert p.wait(timeout=120) == 0
        state = CommitState.from_bytes(store.get(COMMIT_KEY)[0])
    assert len(state.versions) == 20
    assert len(set(state.versions)) == 20
    assert state.current == state.versions[-1]
    assert state.published() == list(state.versions)


def test_cas_no_unbounded_starvation_under_contention():
    """r12 verdict ask #5 (the pinned starvation check): under
    multi-writer churn with the documented client retry policy
    (jittered linear backoff on ConcurrentWriteError — what
    scripts/bench_http_arbiter.py's writers run), no writer loses
    unboundedly many CAS rounds in a row. The bound here is generous
    (30 >> the single digits observed) because the theoretical CAS
    livelock is unbounded only for ZERO-backoff loops; any jitter
    breaks the lockstep."""
    import random
    import time as _time

    from ad_data_lake_spark.http_store import EtagStoreServer, HttpConditionalStore

    results: dict[int, int] = {}
    errors: list[Exception] = []
    with EtagStoreServer(latency=0.002) as url:  # ~2ms RTT: real races
        cas_publish(HttpConditionalStore(url), "v-seed")

        def writer(w: int) -> None:
            try:
                rng = random.Random(w)
                store = HttpConditionalStore(url)
                max_streak = 0
                for i in range(12):
                    streak = 0
                    while True:
                        got = store.get(COMMIT_KEY)
                        base = CommitState.from_bytes(got[0]).current
                        try:
                            cas_publish(
                                store, f"v-w{w}-{i:03d}", base_version=base
                            )
                            break
                        except ConcurrentWriteError:
                            streak += 1
                            _time.sleep(
                                rng.uniform(0.0, 0.002 * min(streak, 8))
                            )
                    max_streak = max(max_streak, streak)
                results[w] = max_streak
            except Exception as exc:  # surface in the main thread
                errors.append(exc)

        threads = [
            threading.Thread(target=writer, args=(w,)) for w in range(4)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    assert not errors, errors
    assert len(results) == 4
    assert max(results.values()) < 30, results


def test_sqlite_publish_opens_two_connections(tmp_path, monkeypatch):
    """A steady-state publish on a sqlite-arbitered table opens one
    connection for ``get`` and one for ``put_if``; constructing the
    store opens none. A whole merge adds one read for its base version
    (pinned in tests/test_lake.py)."""
    import sqlite3

    target = str(tmp_path / "conn_t")
    for v in ("v-1", "v-2"):
        os.makedirs(os.path.join(target, v))
    incremental._publish(target, "v-1", base_version=None)

    opened = []
    real_connect = sqlite3.connect

    def counting_connect(*args, **kwargs):
        opened.append(args[0] if args else kwargs.get("database"))
        return real_connect(*args, **kwargs)

    monkeypatch.setattr(sqlite3, "connect", counting_connect)
    incremental._publish(target, "v-2", base_version="v-1")
    assert len(opened) == 2, opened
    assert incremental._state(target).current == "v-2"
