"""``bench.min_walls`` is the one timing loop of ``bench.py`` and ``scripts/``.

The first tests pin its contract on ``spark.range`` builders: the Bloom
bitmap memo is cleared before each timed invocation and never before
the warm pass, an invocation's persisted RDDs are gone after it while
RDDs persisted before it stay, a raising row maps to None and is not
invoked again, and each wall is the minimum over the timed passes.

The last test scans the AST of ``bench.py`` and ``scripts/*.py`` for
references to ``time.perf_counter``. Only the code in ``CLOCK_ALLOWED``
may read that clock, each entry with the reason it is not a query
timing loop that ``min_walls`` could run, so a new script calls
``min_walls`` instead of growing its own warm/min-of-two loop.
"""
from __future__ import annotations

import ast
from pathlib import Path
from types import SimpleNamespace

import bench

ROOT = Path(__file__).resolve().parent.parent

# (file, top-level function, or None for the whole file) -> why it reads the clock.
CLOCK_ALLOWED = {
    ("bench.py", "min_walls"): "the one Spark timing loop",
    ("scripts/bench_scale.py", "_duckdb_timings_inproc"): (
        "the one DuckDB timer: oracle SQL in a spawned child process, where "
        "no Spark session exists for min_walls"
    ),
    ("scripts/profile_split.py", None): (
        "splits one query's wall into build, plan and execute phases, which "
        "min_walls does not; it goes once the tracer carries planning phases"
    ),
    ("scripts/bench_http_arbiter.py", None): (
        "times commit-arbiter throughput of concurrent writers, not queries"
    ),
}


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_memo_is_cleared_before_each_timed_invocation_only(spark, monkeypatch):
    from ad_data_lake_spark.llm import selection

    log = []
    monkeypatch.setattr(selection, "clear_bitmap_cache", lambda: log.append("clear"))

    def builder(name):
        def build():
            log.append(name)
            return spark.range(3)

        return build

    walls = bench.min_walls(spark, {"a": builder("a"), "b": builder("b")})
    assert all(isinstance(w, float) for w in walls.values()), walls
    assert log == ["a", "b"] + ["clear", "a", "clear", "b"] * bench._TIMED_PASSES


def test_rdds_an_invocation_persisted_are_gone_after_it(spark):
    before = _persisted(spark)
    held = spark.range(7).localCheckpoint()
    held_ids = _persisted(spark) - before
    assert held_ids

    made: list[set[int]] = []  # ids each invocation persisted
    leftover: list[set[int]] = []  # earlier invocations' ids still persisted

    def build():
        start = _persisted(spark)
        leftover.append(set().union(*made) & start)
        df = spark.range(5).localCheckpoint()
        made.append(_persisted(spark) - start)
        return df

    walls = bench.min_walls(spark, {"ckpt": build})
    assert isinstance(walls["ckpt"], float), walls
    assert len(made) == 1 + bench._TIMED_PASSES and all(made), made
    assert not any(leftover), leftover
    assert not set().union(*made) & _persisted(spark)
    assert held_ids <= _persisted(spark)
    assert held.count() == 7


def test_a_raising_row_is_none_and_not_invoked_again(spark, capsys):
    calls = {"warm_fail": 0, "timed_fail": 0}

    def fail_on(name, call_no):
        def build():
            calls[name] += 1
            if calls[name] == call_no:
                raise RuntimeError(f"{name} broke")
            return spark.range(3)

        return build

    walls = bench.min_walls(
        spark,
        {
            "ok": lambda: spark.range(3),
            "warm_fail": fail_on("warm_fail", 1),
            "timed_fail": fail_on("timed_fail", 2),
        },
    )
    assert list(walls) == ["ok", "warm_fail", "timed_fail"]
    assert isinstance(walls["ok"], float)
    assert walls["warm_fail"] is None and walls["timed_fail"] is None
    assert calls == {"warm_fail": 1, "timed_fail": 2}
    err = capsys.readouterr().err
    assert "RuntimeError: warm_fail broke" in err
    assert "RuntimeError: timed_fail broke" in err


def test_each_wall_is_the_min_over_the_timed_passes(spark, monkeypatch):
    # A fake clock that only the builders advance: each invocation's
    # wall is exactly its scripted step. The warm step is the smallest,
    # so counting the warm pass would show.
    clock = [0.0]
    monkeypatch.setattr(bench, "time", SimpleNamespace(perf_counter=lambda: clock[0]))
    steps = {"a": [0.001, 0.5, 0.25], "b": [0.001, 0.125, 0.75]}

    def builder(name):
        step = iter(steps[name])

        def build():
            clock[0] += next(step)
            return spark.range(3)

        return build

    assert bench._TIMED_PASSES == 2
    assert bench.min_walls(spark, {n: builder(n) for n in steps}) == {"a": 0.25, "b": 0.125}


def _clock_reads():
    """Yield (file, enclosing top-level function or None) per perf_counter reference."""
    for path in [ROOT / "bench.py", *sorted((ROOT / "scripts").glob("*.py"))]:
        rel = path.relative_to(ROOT).as_posix()
        for stmt in ast.parse(path.read_text()).body:
            func = stmt.name if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)) else None
            for node in ast.walk(stmt):
                name = (
                    node.id if isinstance(node, ast.Name)
                    else node.attr if isinstance(node, ast.Attribute)
                    else node.name if isinstance(node, ast.alias)
                    else ""
                )
                if name.startswith("perf_counter"):
                    yield rel, func


def test_only_the_allowlisted_code_reads_the_clock():
    # A read in a file allowlisted whole counts as (file, None).
    entries = {
        (f, None) if (f, fn) not in CLOCK_ALLOWED and (f, None) in CLOCK_ALLOWED else (f, fn)
        for f, fn in _clock_reads()
    }
    assert entries - set(CLOCK_ALLOWED) == set(), "a clock read outside the allowlist"
    assert set(CLOCK_ALLOWED) - entries == set(), "allowlisted but reads no clock"
