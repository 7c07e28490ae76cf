"""The benchmark's own tests, at smoke size.

Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q

They pin that each CDC workload's output matches the oracle, that the
oracle notices a wrong target, and that Spark's counters (jobs, stages,
tasks, rows, shuffle bytes) are identical across two same-seed runs.
Smoke streams release their files in lockstep, one micro-batch per file,
so batch boundaries repeat too.
"""

from __future__ import annotations

import os
import sqlite3
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import cdcgen  # noqa: E402
from probes import Counters, _metric_number, prepare_env, start_session, tail_percentile  # noqa: E402

CDC_WORKLOADS = ("cdc_backfill", "cdc_stream_steady", "cdc_stream_fanout")
REPEATABLE = ("jobs", "stages", "tasks", "output_rows", "input_rows", "shuffle_write_bytes")


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    prepare_env(work)
    session, _ = start_session(4, work)
    yield session
    session.stop()


def _workload(name, work, seed):
    import run

    os.makedirs(work, exist_ok=True)
    return run._workload(name, str(work), seed, smoke=True)


def _counted_run(spark, name, work, seed):
    """One smoke run of ``name``; returns (its counters, oracle problems)."""
    wl = _workload(name, work, seed)
    wl.generate(0.5)  # streams: five files
    counters = Counters(spark)
    if name == "cdc_backfill":
        with counters.group(f"test-{work}"):
            wl.measure(spark, 0)
        c = counters.read(f"test-{work}")
    else:
        wl.measure(spark, 0)
        c = counters.read(wl.runs[-1]["run_id"])
    return c, wl.check()


@pytest.mark.parametrize("name", CDC_WORKLOADS)
def test_counters_repeat_for_the_same_seed(spark, tmp_path, name):
    first, problems_a = _counted_run(spark, name, tmp_path / "a", seed=11)
    second, problems_b = _counted_run(spark, name, tmp_path / "b", seed=11)
    assert problems_a == [] and problems_b == []
    assert first["jobs"] > 0 and first["output_rows"] > 0
    assert {k: first[k] for k in REPEATABLE} == {k: second[k] for k in REPEATABLE}


def test_oracle_catches_a_wrong_target(spark, tmp_path):
    wl = _workload("cdc_backfill", tmp_path, seed=3)
    wl.generate(0)
    wl.measure(spark, 0)
    assert wl.check() == []
    con = sqlite3.connect(wl.dbs[0])
    con.execute('UPDATE "orders" SET "AMOUNT" = "AMOUNT" + 1 WHERE rowid = 1')
    con.execute(f'DELETE FROM "{cdcgen.DLQ_TABLE}" WHERE rowid = 1')
    con.commit()
    con.close()
    problems = wl.check()
    assert any("1 wrong rows" in p for p in problems)
    assert any("dead-letter: 1 missing" in p for p in problems)


def test_replay_rules():
    spec = cdcgen.CdcSpec(events=2_000, keys=50, p_delete=0.2, p_corrupt=0.1)
    ev = cdcgen.generate(spec, seed=5)
    exp = cdcgen.replay(ev)
    # every corrupt kind reaches the dead-letter table with its reason
    assert {r for _, _, r in exp.dlq} == {k[4] for k in cdcgen.CORRUPT_KINDS}
    # the surviving row of a key is its last valid upsert, unless a later delete
    last = {}
    for i in range(len(ev)):
        if ev.kind[i] < 0:
            last[int(ev.key[i])] = i
    for key, i in last.items():
        row = exp.tables["orders"].get(key)
        assert row == (None if ev.code[i] == "DL" else (ev.name[i], ev.amount[i], ev.status[i]))


def test_helpers():
    assert _metric_number("1,000") == 1000
    assert _metric_number("total (min, med, max (stageId: taskId))\n8.5 KiB (2.1 KiB, ...)") == 8.5 * 1024
    assert tail_percentile(100) == 90.0
    assert tail_percentile(5_000) == 99.0
    assert tail_percentile(20) == 100.0
