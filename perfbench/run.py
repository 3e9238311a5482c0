"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_status_feed --seed 1 --seconds 12 --trace 0

Runs one workload (star_query_mix, etl_status_feed or curation_jobs) on
``local[<all cores>]`` from this process, checks every output, and prints
as its last line one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. All scratch files live under ``.perfbench/``
in the working directory; a traced run leaves its profile there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("star_query_mix", "etl_status_feed", "curation_jobs")

E2E = {"setup_s": "s", "correct_share": "ratio",
       "op_p50_s": "s", "op_p90_s": "s", "ops_per_s": "1/s",
       "lag_p50_s": "s", "lag_p90_s": "s", "rows_per_s": "rows/s"}

_OPERATOR = {"build_s": "s", "build_jobs": "count", "exec_s": "s", "jobs": "count",
             "task_cpu_s": "s", "shuffle_bytes": "bytes", "spill_bytes": "bytes",
             "cached_peak_bytes": "bytes", "busy_share": "ratio", "out_rows": "rows"}

LAYERS = {
    "session.start_s": "s", "session.warmup_s": "s", "session.peak_rss_mb": "MB",
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.analysis_s": "s",
    "plans.optimization_s": "s", "plans.planning_s": "s", "plans.exec_s": "s",
    "plans.jobs": "count", "plans.stages": "count", "plans.tasks": "count",
    "plans.task_cpu_s": "s", "plans.input_bytes": "bytes", "plans.shuffle_bytes": "bytes",
    "plans.busy_share": "ratio", "plans.sched_gap_s": "s",
    **{f"operators.{job}.{m}": u for job in ("dedup_ngram_jaccard", "dedup_incremental_minhash")
       for m, u in _OPERATOR.items()},
    "streaming.dedup.batch_s": "s", "streaming.dedup.add_batch_s": "s",
    "streaming.dedup.add_batch_growth": "ratio", "streaming.dedup.store_files": "count",
    "streaming.dedup.store_bytes": "bytes", "streaming.dedup.verify_s": "s",
    "streaming.dedup.out_rows": "rows",
    "sources.detect_s": "s", "etl.process_s": "s", "pipeline.self_s": "s",
    "pipeline.jobs": "count", "etl.rows_in": "rows", "etl.rows_clean": "rows",
    "etl.rows_quarantined": "rows", "etl.clean_ratio": "ratio", "warehouse.write_s": "s",
    "warehouse.bytes_written": "bytes", "warehouse.files_written": "count",
    "warehouse.write_amp": "ratio",
    "streaming.status.runs": "count", "streaming.status.batch_s": "s",
    "streaming.status.add_batch_s": "s", "streaming.status.planning_s": "s",
    "streaming.status.commit_s": "s", "streaming.status.queue_wait_s": "s",
    "streaming.status.backlog_files": "count", "streaming.status.input_rows": "rows",
    "sources.atomic.partitions_swapped": "count", "sources.atomic.bytes_rewritten": "bytes",
    "views.lookup_jobs": "count", "views.lookup_input_bytes": "bytes",
    "bench.generate_s": "s", "bench.oracle_s": "s", "feed.generator_late_s": "s",
    "host.calibration_s": "s", "trace.overhead_s": "s",
}


class Context:
    """One run's seed, length, input scale, scratch directory and, when
    traced, the tracer factory."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, scale: float):
        import numpy as np

        self.workload, self.seed, self.seconds, self.trace, self.scale = workload, seed, seconds, trace, scale
        self.rng = np.random.default_rng(seed)
        self.base = os.path.join(os.getcwd(), ".perfbench")
        self.work = os.path.join(self.base, f"{workload}-{seed}-{os.getpid()}")
        os.makedirs(self.work, exist_ok=True)

    def tracer(self, spark):
        if not self.trace:
            return None
        from perfbench.trace import Tracer
        return Tracer(spark, f"{self.workload}-{self.seed}")


def _isolate(work: str) -> None:
    """Point every scratch path Spark, Python and the package use at ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({"TMPDIR": tmp, "SPARK_LOCAL_DIRS": tmp, "TZ": "UTC",
                       # every JVM, the launcher's too: no /tmp/hsperfdata, tmp files in ``work``
                       "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"})
    time.tzset()


def _stop_spark() -> None:
    """Stop a session an aborted run left behind and wait for its JVM."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        from pyspark.sql import SparkSession

        from perfbench.harness import shutdown
        shutdown(SparkSession(sc))


def run(workload: str, seed: int, seconds: float, trace: bool, scale: float = 1.0) -> dict:
    from perfbench import harness, workloads

    ctx = Context(workload, seed, seconds, trace, scale)
    _isolate(ctx.work)
    calibration = harness.calibration()
    try:
        res = getattr(workloads, workload)(ctx)
    finally:
        _stop_spark()
        shutil.rmtree(ctx.work, ignore_errors=True)
    for f in res.failures:
        print(f"perfbench: failed: {f}", file=sys.stderr)
    undeclared = (set(res.e2e) - set(E2E)) | (set(res.layers) - set(LAYERS))
    if undeclared:
        raise KeyError(f"metrics missing from E2E/LAYERS: {sorted(undeclared)}")
    if trace:
        values = {**{k: 0.0 for k in LAYERS}, **res.layers, "host.calibration_s": calibration}
        units = LAYERS
        with open(os.path.join(ctx.base, f"profile-{workload}-seed{seed}.json"), "w") as f:
            json.dump({"workload": workload, "seed": seed, "seconds": seconds,
                       "layers": values, **res.profile}, f, indent=1, default=str)
    else:
        values, units = res.e2e, E2E
    return {"correct": res.failed == 0, "attempted": res.attempted, "failed": res.failed,
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "airline_data_warehouse_spark")):
        print("perfbench: the airline_data_warehouse_spark package is not beside perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
