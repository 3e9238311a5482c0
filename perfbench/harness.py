"""Shared pieces of the three workloads: the Spark session and its
set-up timing, memory readings, latency quantiles and the DuckDB output
check (canonicalized exactly as tools/check_correctness.py does)."""

from __future__ import annotations

import os
import resource
import statistics
import time

import duckdb

from tools.check_correctness import rows_to_multiset

SETUPS = 3  # set-ups per run; setup_s is their median


def cores() -> int:
    return len(os.sched_getaffinity(0))


def session(work: str):
    """The package's session factory on ``local[<all cores>]``, with every
    scratch path inside ``work`` and the status store sized to keep every
    job of a run for the traced collection."""
    from airline_data_warehouse_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(app_name="perfbench", master=f"local[{cores()}]", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={tmp}",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed_setups(work: str, warmup) -> tuple:
    """Start the session and run ``warmup(spark)`` SETUPS times (the first
    start launches the JVM; later ones stop and restart the context in it).
    Returns the live session and the per-set-up (start_s, warmup_s) pairs."""
    from airline_data_warehouse_spark.operators.dedup import release_caches

    samples = []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            release_caches()
            spark.stop()
        t0 = time.perf_counter()
        spark = session(work)
        t1 = time.perf_counter()
        warmup(spark)
        samples.append((t1 - t0, time.perf_counter() - t1))
    return spark, samples


def setup_s(samples) -> float:
    return statistics.median(a + b for a, b in samples)


def session_layer(samples, warm_pass_s: float = 0.0) -> dict[str, float]:
    """Median start and warm-up of the set-ups; a workload's one-off warm
    pass after them (also part of its setup_s) counts as warm-up."""
    return {"session.start_s": statistics.median(a for a, _ in samples),
            "session.warmup_s": statistics.median(b for _, b in samples) + warm_pass_s}


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the Spark JVM plus this driver process."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = getattr(spark.sparkContext._gateway, "proc", None)  # the JVM pyspark launched
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


def shutdown(spark) -> None:
    """Stop the context and wait for the JVM process to exit; the next
    session in this process launches a fresh JVM."""
    from airline_data_warehouse_spark.operators.dedup import release_caches
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    release_caches()
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that ignores stdin close is killed
            proc.kill()
            proc.wait(timeout=30)


def calibration() -> float:
    """A fixed CPU probe whose code never changes: host speed, diagnostic only."""
    t0 = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    return time.perf_counter() - t0


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty sample."""
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def duckdb_views(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_answer(con, sql: str) -> tuple[list[str], list[str]]:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return cols, rows_to_multiset(res.fetchall(), cols)


def matches(columns: list[str], rows, expected: tuple[list[str], list[str]]) -> bool:
    """Row count, column-name set and the order-insensitive multiset of
    canonicalized rows must all agree with the oracle's answer."""
    ecols, erows = expected
    return (sorted(columns) == sorted(ecols)
            and rows_to_multiset([tuple(r) for r in rows], columns) == erows)
