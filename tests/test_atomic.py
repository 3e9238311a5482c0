"""Crash-point sweep over sources/atomic.py's one crash protocol: every
rename and delete a mutation makes is, in turn, the point where it
crashes. After each crash, recovery must leave every read exactly the
old or the new content, and a retry must converge to the new content."""

from __future__ import annotations

import os
import shutil

import pytest

from airline_data_warehouse_spark.sources import atomic


class _Crash(Exception):
    pass


def _crash_at(monkeypatch, k: int) -> None:
    """Make the k-th rename or delete, counted across every FileSystem
    ``atomic._fs`` hands out, raise instead of running."""
    real = atomic._fs
    calls = [0]

    class CrashingFS:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def _op(self, name, *args):
            calls[0] += 1
            if calls[0] == k:
                raise _Crash(f"{name} #{k}")
            return getattr(self._fs, name)(*args)

        def rename(self, *args):
            return self._op("rename", *args)

        def delete(self, *args):
            return self._op("delete", *args)

    def crashing(spark, path):
        hpath, fs = real(spark, path)
        return hpath, CrashingFS(fs)

    monkeypatch.setattr(atomic, "_fs", crashing)


def _old_or_new(got, old, new) -> None:
    assert got in (old, new)


def _every_crash_point(setup, mutate, recover, read, old, new,
                       same) -> int:
    """Crash ``mutate`` at k = 1, 2, … until it runs through; after
    each crash, recover and check ``same(read(), old or new)``, then
    retry and check the new content. Returns the crash-point count."""
    k = 0
    while True:
        k += 1
        setup()
        with pytest.MonkeyPatch.context() as mp:
            _crash_at(mp, k)
            try:
                mutate()
            except _Crash:
                crashed = True
            else:
                crashed = False
        recover()
        if not crashed:
            assert read() == new
            return k - 1
        same(read(), old, new)
        mutate()
        assert read() == new, f"retry after crash point {k}"


def test_swap_partitions_every_crash_point(spark, tmp_path):
    """Two rewritten partitions, one new partition and one drop: after
    any crash each partition holds exactly its old or its new rows (a
    dropped partition: its old rows or nothing)."""
    tmpl_old, tmpl_stage = str(tmp_path / "old"), str(tmp_path / "stage")
    (spark.createDataFrame([(1, "a"), (2, "a"), (3, "b"), (4, "c")],
                           "id long, p string")
     .write.partitionBy("p").parquet(tmpl_old))
    (spark.createDataFrame([(1, "a"), (20, "a"), (30, "b"), (5, "d")],
                           "id long, p string")
     .write.partitionBy("p").parquet(tmpl_stage))
    dest, staging = str(tmp_path / "t"), str(tmp_path / "t_staging")

    def setup():
        shutil.rmtree(dest, ignore_errors=True)
        shutil.copytree(tmpl_old, dest)

    def mutate():
        shutil.rmtree(staging, ignore_errors=True)
        shutil.copytree(tmpl_stage, staging)
        atomic.swap_partitions(spark, staging, dest, "p",
                               drop_partitions=["p=c"])

    def read():
        parts = {}
        for r in spark.read.parquet(dest).collect():
            parts.setdefault(r["p"], []).append(r["id"])
        return {p: sorted(ids) for p, ids in parts.items()}

    def same(got, old, new):
        for p in set(old) | set(new) | set(got):
            assert got.get(p) in (old.get(p), new.get(p)), (p, got)

    old = {"a": [1, 2], "b": [3], "c": [4]}
    new = {"a": [1, 20], "b": [30], "d": [5]}
    points = _every_crash_point(
        setup, mutate,
        lambda: atomic.recover_partitions(spark, dest, "p"),
        read, old, new, same)
    assert points >= 10
    assert [f for f in os.listdir(dest) if f.endswith(".replaced")] == []


def test_replace_directory_every_crash_point(spark, tmp_path):
    tmpl = str(tmp_path / "old")
    spark.createDataFrame([(1, 10)], "k long, v long").write.parquet(tmpl)
    new_rows = spark.createDataFrame([(2, 20), (3, 30)], "k long, v long")
    dest = str(tmp_path / "state")

    def setup():
        shutil.rmtree(dest, ignore_errors=True)
        shutil.copytree(tmpl, dest)

    def read():
        return sorted(tuple(r) for r in spark.read.parquet(dest).collect())

    points = _every_crash_point(
        setup, lambda: atomic.replace_directory(spark, new_rows, dest),
        lambda: atomic.recover_directory(spark, dest),
        read, [(1, 10)], [(2, 20), (3, 30)], _old_or_new)
    assert points >= 3


def test_compact_directory_every_crash_point(spark, tmp_path):
    """Compaction is layout-only: every crash leaves the same rows in
    either the old three files or the compacted one."""
    tmpl = str(tmp_path / "old")
    for i in range(3):
        (spark.createDataFrame([(i,)], "id long").coalesce(1)
         .write.mode("append").parquet(tmpl))
    dest = str(tmp_path / "log")

    def setup():
        shutil.rmtree(dest, ignore_errors=True)
        shutil.copytree(tmpl, dest)

    def read():
        files = [f for f in os.listdir(dest) if f.endswith(".parquet")]
        rows = sorted(r["id"] for r in spark.read.parquet(dest).collect())
        return rows, len(files)

    points = _every_crash_point(
        setup, lambda: atomic.compact_directory(spark, dest),
        lambda: atomic.recover_directory(spark, dest),
        read, ([0, 1, 2], 3), ([0, 1, 2], 1), _old_or_new)
    assert points >= 3
