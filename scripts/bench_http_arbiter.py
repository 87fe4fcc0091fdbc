"""HTTP table-commit arbiter under injected network conditions
(VERDICT r12 ask #5).

``HttpTableCommitStore`` was proven correct on loopback; this script
measures it the way a real object-store deployment behaves: N writer
PROCESSES contending on one table through the S3-wire endpoint with an
injected symmetric RTT (and optionally periodic connection drops).
Both halves of the PUT-ambiguity window are driven (r13 ADVICE):
``--drop-every`` drops requests BEFORE they apply (never-landed), and
``--drop-landed-every`` applies every Nth PUT then drops the response
(landed-but-response-lost — the case the recovery read-back rule
exists for). Reported per condition:

- commits/s (wall for all writers to land all their commits),
- total CAS rejections (lost races that recomputed and retried),
- max consecutive CAS losses any single writer suffered (the
  starvation metric — bounded fairness, not just liveness),
- ambiguous-PUT recoveries, split by how the read-back rule resolved
  each (landed / resent / lost), summed over writers from the
  client's ``recovery_stats`` counters.

Usage: python scripts/bench_http_arbiter.py [--writers 4]
       [--commits 20] [--rtts 0,0.01,0.05] [--drop-every 23]
       [--drop-landed-every 7]
Prints a markdown table (paste into BASELINE.md) + one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import textwrap
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _arg(flag: str, default: str) -> str:
    return sys.argv[sys.argv.index(flag) + 1] if flag in sys.argv else default


WRITERS = int(_arg("--writers", "4"))
COMMITS = int(_arg("--commits", "20"))
RTTS = [float(x) for x in _arg("--rtts", "0,0.01,0.05").split(",")]
DROP_EVERY = int(_arg("--drop-every", "23"))
DROP_LANDED_EVERY = int(_arg("--drop-landed-every", "7"))

# Writer child: merge-style commit loop (base version read from the
# arbiter each attempt, exactly like a merge does), unbounded
# retry per commit so the run measures contention cost rather than
# aborting — per-commit CAS losses are counted and the max streak is
# the starvation metric.
_WRITER = textwrap.dedent(
    """
    import json, random, sys, time
    sys.path.insert(0, {repo!r})
    from ad_data_lake_spark import incremental
    from ad_data_lake_spark.commit_protocol import ConcurrentWriteError, cas_publish
    from ad_data_lake_spark.http_store import HttpTableCommitStore

    target, w, n = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    store = HttpTableCommitStore(target)  # re-opened from the marker
    rng = random.Random(w)  # per-writer jitter stream
    retries = 0
    max_streak = 0
    landed = []
    t0 = time.perf_counter()
    for i in range(n):
        streak = 0
        while True:
            base = incremental._state(target).current
            a0 = time.perf_counter()
            try:
                cas_publish(store, f"v-w{{w}}-{{i:05d}}", base_version=base)
                break
            except ConcurrentWriteError:
                attempt_wall = time.perf_counter() - a0
                retries += 1
                streak += 1
                # jittered backoff SCALED to the measured attempt wall
                # (~2 RTT): fairness must hold at any latency — a
                # fixed-millisecond jitter is invisible next to a
                # 50 ms RTT race window and lets one writer camp on
                # the arbiter
                time.sleep(
                    rng.uniform(0.0, max(0.002, attempt_wall) * min(streak, 6))
                )
        max_streak = max(max_streak, streak)
        landed.append(f"v-w{{w}}-{{i:05d}}")
    print(json.dumps({{
        "writer": w, "wall": time.perf_counter() - t0, "landed": landed,
        "retries": retries, "max_streak": max_streak,
        "recovery": store.recovery_stats,
    }}))
    """
).format(repo=str(REPO))


def run_condition(rtt: float, drop_every: int, drop_landed_every: int = 0) -> dict:
    from ad_data_lake_spark.commit_protocol import COMMIT_KEY, CommitState, cas_publish
    from ad_data_lake_spark.http_store import EtagStoreServer, HttpTableCommitStore

    target = os.path.join(
        tempfile.mkdtemp(prefix="arbiter_bench_"), "table"
    )
    srv = EtagStoreServer(
        latency=rtt,
        drop_every=drop_every,
        drop_put_response_every=drop_landed_every,
    )
    with srv as url:
        store = HttpTableCommitStore(target, base_url=url)  # plant marker
        cas_publish(store, "v-seed")  # so every writer starts from a state
        t0 = time.perf_counter()
        procs = [
            subprocess.Popen(
                [sys.executable, "-c", _WRITER, target, str(w), str(COMMITS)],
                stdout=subprocess.PIPE,
                text=True,
            )
            for w in range(WRITERS)
        ]
        stats = []
        for p in procs:
            out, _ = p.communicate(timeout=600)
            assert p.returncode == 0, f"writer died: {out}"
            stats.append(json.loads(out.strip().splitlines()[-1]))
        wall = time.perf_counter() - t0
        state = CommitState.from_bytes(store.get(COMMIT_KEY)[0])
    # correctness under the condition, not just speed. What is
    # asserted: (a) every writer process exited 0 and reported each of
    # its commits landed (a writer only advances past a commit once its
    # cas_publish returned success); (b) the arbiter's final state
    # agrees with those outcomes: its pointer is some writer's LAST
    # commit, and its retained history holds only landed commits (or
    # the seed), as many as the retention window keeps.
    n_expected = WRITERS * COMMITS
    assert len(stats) == WRITERS  # all exited 0 (asserted above)
    assert all(len(s["landed"]) == COMMITS for s in stats)
    landed = {v for s in stats for v in s["landed"]} | {"v-seed"}
    history = state.published()
    assert state.current in {s["landed"][-1] for s in stats}
    assert set(history) <= landed
    # writers publish with cas_publish's default retention of 3
    assert len(history) == min(n_expected + 1, 3)
    recovery = {
        k: sum(s["recovery"][k] for s in stats)
        for k in ("ambiguous", "landed", "resent", "lost")
    }
    return {
        "rtt_ms": rtt * 1e3,
        "drop_every": drop_every,
        "drop_landed_every": drop_landed_every,
        "commits": n_expected,
        "wall": round(wall, 3),
        "commits_per_s": round(n_expected / wall, 1),
        "cas_retries": sum(s["retries"] for s in stats),
        "max_consecutive_losses": max(s["max_streak"] for s in stats),
        "ambiguous_puts": recovery["ambiguous"],
        "recovered_landed": recovery["landed"],
        "recovered_resent": recovery["resent"],
        "recovered_lost": recovery["lost"],
    }


def main() -> None:
    rows = []
    for rtt in RTTS:
        rows.append(run_condition(rtt, 0))
        print(f"rtt={rtt * 1e3:.0f}ms done", file=sys.stderr, flush=True)
    # drops at the middle RTT: both ambiguity halves under churn —
    # pre-apply drops (never-landed) and applied-then-dropped
    # responses (landed-but-response-lost)
    mid = RTTS[len(RTTS) // 2]
    rows.append(run_condition(mid, DROP_EVERY))
    print("pre-apply drop condition done", file=sys.stderr, flush=True)
    rows.append(run_condition(mid, 0, DROP_LANDED_EVERY))
    print("landed-drop condition done", file=sys.stderr, flush=True)

    print(
        f"\n| RTT (ms) | drop 1/N | landed-drop 1/N | writers x commits "
        f"| wall (s) | commits/s | CAS retries | max consec losses "
        f"| ambig PUTs (landed/resent/lost) |"
    )
    print("|---|---|---|---|---|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['rtt_ms']:.0f} | {r['drop_every'] or '—'} "
            f"| {r['drop_landed_every'] or '—'} "
            f"| {WRITERS}x{COMMITS} | {r['wall']} | {r['commits_per_s']} "
            f"| {r['cas_retries']} | {r['max_consecutive_losses']} "
            f"| {r['ambiguous_puts']} ({r['recovered_landed']}/"
            f"{r['recovered_resent']}/{r['recovered_lost']}) |"
        )
    print(json.dumps({"metric": "http_arbiter_contention", "rows": rows}))


if __name__ == "__main__":
    main()
