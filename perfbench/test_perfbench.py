"""The benchmark's own fast tests, at sf0.001.

    python3 -m pytest perfbench/test_perfbench.py -q

They cover the generator's determinism, the fixed op multiset, failure
accounting (a fake op whose result disagrees with its oracle, and one
that raises) and the metrics line of both modes against BENCHMARK.json.
"""

from __future__ import annotations

import collections
import hashlib
import json
import os
import subprocess
import sys
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402
from tracing import NullTracer  # noqa: E402

SF = 0.001
ALL_TABLES = ("orders", "lineitem", "part", "supplier", "events", "documents", "embeddings")


def _digests(d: str) -> dict[str, str]:
    return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d))}


def test_generator_is_deterministic_for_a_seed(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 7, SF, ALL_TABLES)
    gen.write_tables(str(tmp_path / "b"), 7, SF, ALL_TABLES)
    gen.write_tables(str(tmp_path / "c"), 8, SF, ALL_TABLES)
    a, b, c = (_digests(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a != c
    for cycle in range(3):
        for fn in (lambda s: gen.lake_day(s, SF, cycle, 1000),
                   lambda s: gen.lake_corrections(s, SF, cycle, 1000)):
            assert fn(7).equals(fn(7))
            assert not fn(7).equals(fn(8))
    # every stream is seeded from its whole name: anagram-like names
    # ("events/31" and "events/40") do not share a stream
    assert not gen.lake_day(7, SF, 1, 1000).drop(["ts"]).equals(
        gen.lake_day(7, SF, 10, 1000).drop(["ts"]))
    assert not gen.lake_corrections(7, SF, 12, 1000).drop(["ts"]).equals(
        gen.lake_corrections(7, SF, 21, 1000).drop(["ts"]))


def _ctx(seed: int, tmp_path) -> W.Ctx:
    ctx = W.Ctx(None, "", str(tmp_path), seed, SF, NullTracer())
    ctx.lake.update(inputs=str(tmp_path / f"in{seed}"), src=str(tmp_path / f"src{seed}"),
                    next_id=gen.lake_base_rows(SF))
    os.makedirs(ctx.lake["src"])
    return ctx


def test_op_multiset_is_identical_across_seeds(tmp_path):
    for name, wl in W.WORKLOADS.items():
        per_seed = {}
        for seed in (1, 2, 3):
            ctx = _ctx(seed, tmp_path / name)
            per_seed[seed] = [[op.name for op in wl.ops(ctx, i)] for i in range(1, 7)]
        counts = {s: [collections.Counter(r) for r in rounds] for s, rounds in per_seed.items()}
        assert counts[1] == counts[2] == counts[3], name
        if name != "lake_cdc":  # the seed orders a registry round
            assert per_seed[1] != per_seed[2], name
    # the lake's new-events files come from the fixed data seed, its
    # correction batches from the run's seed
    lake = [W._lake_land(_ctx(seed, tmp_path / f"land{seed}"), 0) for seed in (1, 2)]
    read = [[pq.read_table(f) for f in files] for files in lake]
    assert read[0][0].equals(read[1][0])
    assert not read[0][1].equals(read[1][1])
    assert W.WORKLOADS["report_reads"].rounds(12) == W.WORKLOADS["report_reads"].rounds(12.4)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from ad_data_lake_spark.session import get_spark

    s = get_spark("perfbench-tests")
    yield s
    s.stop()


def test_wrong_result_and_raising_op_count_as_failed(spark, tmp_path):
    from ad_data_lake_spark.sources.tables import load_table

    data = str(tmp_path / "data")
    gen.write_tables(data, 3, SF, ("events",))

    def boom(spark, d):
        raise RuntimeError("injected")

    fake = {
        # right: same rows as its oracle
        "good": SimpleNamespace(fn=lambda s, d: load_table(s, "events", d).select("event_id"),
                                oracle="SELECT event_id FROM events"),
        # wrong: one row short of its oracle's count, then one value off
        "short": SimpleNamespace(fn=lambda s, d: load_table(s, "events", d).where("event_id > 0")
                                 .select("event_id"),
                                 oracle="SELECT event_id FROM events"),
        "off": SimpleNamespace(fn=lambda s, d: load_table(s, "events", d)
                               .selectExpr("event_id", "value + 0.01 AS value"),
                               oracle="SELECT event_id, value FROM events"),
        "raises": SimpleNamespace(fn=boom, oracle="SELECT 1"),
    }
    wl = W.registry_workload("fake", tuple(fake), ("events",), warmup=1, round_s=1.0,
                             build_layer="operators.build", registry=fake)
    ctx = W.Ctx(spark, data, str(tmp_path), 1, SF, NullTracer())
    wl.prepare(ctx)
    out = W.Outcome()
    W.run_rounds(ctx, wl, 0, 1, False, out, lambda m: None)  # check round
    W.run_rounds(ctx, wl, 1, 1, True, out, lambda m: None)  # timed round
    assert out.checks == 4 and out.ops_run == 4
    failed = sorted(f.split(":")[0] for f in out.check_failures)
    assert failed == ["off", "raises", "short"]
    assert [f.split(":")[0] for f in out.op_failures] == ["raises"]
    out.timed_wall_s = 1.0
    attempted, n_failed = run.attempts(out)
    assert (attempted, n_failed) == (8, 4)
    assert run.end_to_end(out, 1.0)["ops_ok_ratio"] == pytest.approx(0.5)


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload,trace,section", [
    ("lake_cdc", 0, "end_to_end"),
    ("report_reads", 1, "per_layer"),
])
def test_metrics_line_carries_every_name_with_its_unit(tmp_path, workload, trace, section):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "5",
           "--seconds", "1", "--trace", str(trace), "--sf", str(SF), "--slots", "2"]
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["failed"] == 0 and line["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _bench()[section]}
    got = {k: v["unit"] for k, v in line["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in line["metrics"].values())
    assert os.listdir(tmp_path) == []  # the scratch directory is removed


def test_exits_nonzero_without_the_package(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            with open(os.path.join(HERE, f)) as src, open(tmp_path / "perfbench" / f, "w") as dst:
                dst.write(src.read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "report_reads", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0 and proc.stdout.strip() == ""
