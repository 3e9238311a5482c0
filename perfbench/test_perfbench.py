"""The benchmark's own tests, at a tiny input size.

    python -m pytest perfbench/test_perfbench.py -q

Each workload runs once untraced and once traced in this process (a
fresh JVM per run), so the whole file takes a few minutes.
"""

from __future__ import annotations

import filecmp
import os

import numpy as np
import pytest

from perfbench import gen, harness, run, workloads

TINY = 0.25  # input scale: a quarter of the benchmark's sizes
SECONDS = 3


@pytest.fixture(scope="module", autouse=True)
def in_tmp(tmp_path_factory):
    cwd = os.getcwd()
    os.chdir(tmp_path_factory.mktemp("bench"))
    yield
    os.chdir(cwd)


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_every_metric_named_with_unit_and_no_failures(workload):
    for trace, names in ((False, run.E2E), (True, run.LAYERS)):
        out = run.run(workload, seed=7, seconds=SECONDS, trace=trace, scale=TINY)
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert set(out["metrics"]) == set(names)
        for name, m in out["metrics"].items():
            assert m["unit"] == names[name] and isinstance(m["value"], float)
        assert out["attempted"] >= 1
        assert out["failed"] == 0 and out["correct"], out
        if not trace:
            assert all(m["value"] > 0 for m in out["metrics"].values())
            assert out["metrics"]["correct_share"]["value"] == 1.0


def test_corrupted_result_is_caught():
    from airline_data_warehouse_spark.plans.registry import all_queries

    data = os.path.join(os.getcwd(), "corrupt")
    gen.star_tables(np.random.default_rng(3), data, TINY * workloads.STAR_SF)
    registry = all_queries()
    con = harness.duckdb_views(data, workloads.STAR_TABLES)
    spark = harness.session(os.path.join(os.getcwd(), "work"))
    try:
        df = registry["flagship_star_revenue"].builder(spark, data)
        rows = df.collect()
        expected = harness.oracle_answer(con, registry["flagship_star_revenue"].oracle)
        assert rows and harness.matches(df.columns, rows, expected)
        first = rows[0].asDict()
        key = next(k for k, v in first.items() if isinstance(v, (int, float)))
        first[key] = first[key] + 1
        assert not harness.matches(df.columns, [tuple(first.values())] + rows[1:], expected)
        assert not harness.matches(df.columns, rows[1:], expected)
    finally:
        harness.shutdown(spark)


def test_wrong_lookup_is_caught():
    from datetime import datetime

    msgs = {"AA100": [("status-00000.json", "2024-06-01T00:00:00Z", "delayed", 300),
                      ("status-00001.json", "2024-06-01T00:00:05Z", "on-time", 0)]}
    committed = {"status-00000.json": 1.0, "status-00001.json": 5.0}

    def row(ts, status, delay):
        return {"flight_key": "AA100", "status": status, "delay_minutes": delay,
                "update_timestamp": datetime.strptime(ts, "%Y-%m-%dT%H:%M:%SZ"),
                "is_eligible": delay > 240, "delay_hours": delay // 60}

    newest = [row("2024-06-01T00:00:05Z", "on-time", 0)]
    older = [row("2024-06-01T00:00:00Z", "delayed", 300)]
    ok = workloads._lookup_ok
    assert ok(("check_insurance", "AA100", 6.0, 7.0, newest), msgs, committed)
    assert ok(("check_insurance", "AA100", 2.0, 3.0, older), msgs, committed)
    assert not ok(("check_insurance", "AA100", 6.0, 7.0, older), msgs, committed)  # stale
    assert not ok(("check_insurance", "AA100", 2.0, 3.0, []), msgs, committed)     # lost
    wrong = [dict(newest[0], status="delayed")]
    assert not ok(("v_latest_flight_status", "AA100", 6.0, 7.0, wrong), msgs, committed)


def _generate(seed: int, root: str) -> None:
    rng = np.random.default_rng(seed)
    gen.star_tables(rng, os.path.join(root, "star"), 0.001)
    gen.corpus(rng, os.path.join(root, "corpus"), 60, 40, 0.05, 0.1)
    truth = gen.etl_drop(rng, os.path.join(root, "drop"), 600)
    payloads, _ = gen.status_files(rng, sorted(truth["fact_rows_per_flight"]), 3, 20)
    with open(os.path.join(root, "status.json"), "w") as f:
        f.write("".join(payloads))


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_generators_deterministic_per_seed(tmp_path):
    for name, seed in (("a", 11), ("b", 11), ("c", 12)):
        _generate(seed, str(tmp_path / name))
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))
