"""The three workloads. Each one generates its inputs from the seed, sets
up the session, runs its timed region, checks every output outside the
timed region and returns its end-to-end and per-layer metrics.

Only a traced run (``trace=True``) installs wrappers; the untraced run
calls the package exactly as a user would.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import statistics
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from perfbench import gen, harness
from perfbench.harness import quantile

# star_query_mix -------------------------------------------------------------
STAR_SF = 0.01           # per-query time is planning- and scheduling-bound at this size
STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]
STAR_DOCS = 500

# etl_status_feed ------------------------------------------------------------
SALES_ROWS = 20_000      # rows over the three sales files; ~24k CSV rows in all
FEED_INTERVAL_S = 1.0    # the open-loop generator lands one status file per interval
FEED_PER_FILE = 100      # messages per file: a fixed rate of 100 messages/s
FEED_TRIGGER_S = 4.0     # the sink and the merge run on this fixed trigger...
FEED_TRIGGER_OFFSET_S = 0.5  # ...half a second after a landing is due

# curation_jobs --------------------------------------------------------------
# dedup_cascade and dedup_prefix_filter_exact do not fit a run's time budget
# (the latter's DuckDB oracle alone takes 30-100 s); similarity_topk_ivfpq,
# dedup_embedding_cosine and semantic_cluster_profile miss their oracles on
# generated corpora (README: "Operations left out").
CURATION_JOBS = ["dedup_ngram_jaccard", "dedup_incremental_minhash",
                 "stream_exact_substring_verified"]  # the stream job last
CURATION_PASS_S = 14.0   # nominal warm pass length: a run makes round(--seconds / this) passes
CORPUS_DOCS, CORPUS_VECS = 200, 200
EXACT_SHARE, NEAR_SHARE = 0.05, 0.10


@dataclass
class Result:
    """What a workload reports: operation counts, the end-to-end metrics
    and, for a traced run, the per-layer metrics and the profile."""
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    profile: dict = field(default_factory=dict)
    failures: list = field(default_factory=list)


def _dir_size(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith(".") and not n.startswith("_"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _latency_metrics(lat: list[float], lag: list[float], ok_ops: int, wall: float,
                     rows: float) -> dict[str, float]:
    return {"op_p50_s": quantile(lat, 0.5), "op_p90_s": quantile(lat, 0.9),
            "ops_per_s": ok_ops / wall,
            "lag_p50_s": quantile(lag, 0.5), "lag_p90_s": quantile(lag, 0.9),
            "rows_per_s": rows / wall}


def _plans_layer(tracer, items, cores: int) -> dict[str, float]:
    """plans.* summed over registry-builder calls: ``items`` holds, per
    call, its build span, its exec span and the executed DataFrame."""
    build = [b for b, _, _ in items]
    execs = [e for _, e, _ in items]
    bj = tracer.job_stats([s for b in build for s in tracer.subtree(b)])
    ex = tracer.job_stats(execs)
    from perfbench.trace import catalyst_phases

    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for _, _, df in items:
        for k, v in catalyst_phases(df).items():
            if k in phases:
                phases[k] += v
    return {
        "plans.build_s": sum(b["dur_s"] for b in build), "plans.build_jobs": bj["jobs"],
        "plans.analysis_s": phases["analysis"], "plans.optimization_s": phases["optimization"],
        "plans.planning_s": phases["planning"], "plans.exec_s": ex["wall_s"],
        "plans.jobs": ex["jobs"], "plans.stages": ex["stages"], "plans.tasks": ex["tasks"],
        "plans.task_cpu_s": ex["task_cpu_s"], "plans.input_bytes": ex["input_bytes"],
        "plans.shuffle_bytes": ex["shuffle_bytes"],
        "plans.busy_share": ex["task_s"] / (ex["wall_s"] * cores) if ex["wall_s"] else 0.0,
        "plans.sched_gap_s": ex["sched_gap_s"],
    }


def _run_op(tracer, layer: str, key: str, builder, spark, data: str):
    """Builder call, then collect. Traced, the builder call and the
    execution are two spans. Returns (df, rows, build span, exec span)."""
    if tracer is None:
        df = builder(spark, data)
        return df, df.collect(), None, None
    with tracer.span(f"{layer}.{key}") as build:
        df = builder(spark, data)
    with tracer.span("exec", key=key) as ex:
        rows = df.collect()
    return df, rows, build, ex


# ---------------------------------------------------------------------------
# star_query_mix
# ---------------------------------------------------------------------------

# Spark's percentile and DuckDB's quantile_cont can differ in the last bit
# of an interpolated value (seed 1: 447255.45 vs 447255.45000000007), so
# this key's exact oracle parity holds only on the certification data.
STAR_EXCLUDED = ("exact_percentiles",)


def star_keys(registry) -> list[str]:
    """Every batch registry key with an oracle from plans/relational.py and
    plans/olap.py except STAR_EXCLUDED, in name order (the run's order is a
    seeded shuffle)."""
    return sorted(n for n, d in registry.items()
                  if d.oracle and n not in STAR_EXCLUDED
                  and d.builder.__module__.rsplit(".", 1)[-1] in ("relational", "olap"))


def star_query_mix(ctx) -> Result:
    from airline_data_warehouse_spark.operators.dedup import release_caches
    from airline_data_warehouse_spark.plans.registry import all_queries

    res = Result()
    data = os.path.join(ctx.work, "star")
    t0 = time.perf_counter()
    sizes = gen.star_tables(ctx.rng, data, ctx.scale * STAR_SF)
    sizes.update({k: v for k, v in gen.corpus(ctx.rng, data, int(ctx.scale * STAR_DOCS), 50,
                                              EXACT_SHARE, NEAR_SHARE).items()
                  if k in ("documents", "embeddings")})
    generate_s = time.perf_counter() - t0
    registry = all_queries()
    keys = star_keys(registry)
    order = [keys[i] for i in ctx.rng.permutation(len(keys))]
    scan_rows = {k: sum(n for t, n in sizes.items() if re.search(rf"\b{t}\b", registry[k].oracle))
                 for k in keys}

    def warmup(spark):
        for t in STAR_TABLES:
            spark.read.parquet(os.path.join(data, f"{t}.parquet")).count()

    spark, setups = harness.timed_setups(ctx.work, warmup)
    tracer = ctx.tracer(spark)
    runs = []  # (key, columns, rows, latency, build span, exec span, df)
    t_start = time.perf_counter()
    i = 0
    while time.perf_counter() - t_start < ctx.seconds:
        key = order[i % len(order)]
        i += 1
        t0 = time.perf_counter()
        try:
            df, rows, build, ex = _run_op(tracer, "plans", key, registry[key].builder, spark, data)
            runs.append((key, df.columns, rows, time.perf_counter() - t0, build, ex, df))
        except Exception as exc:  # noqa: BLE001 — a failing query is counted, not fatal
            runs.append((key, None, repr(exc), time.perf_counter() - t0, None, None, None))
        release_caches()
    wall = time.perf_counter() - t_start
    rss = harness.peak_rss_mb(spark)

    t0 = time.perf_counter()
    con = harness.duckdb_views(data, STAR_TABLES)
    expected = {k: harness.oracle_answer(con, registry[k].oracle) for k in {r[0] for r in runs}}
    oracle_s = time.perf_counter() - t0
    ok = [r for r in runs if r[1] is not None and harness.matches(r[1], r[2], expected[r[0]])]
    res.attempted, res.failed = len(runs), len(runs) - len(ok)
    res.failures = [r[0] for r in runs if r not in ok]
    lat = [r[3] for r in runs]
    res.e2e = {**_latency_metrics(lat, lat, len(ok), wall, sum(scan_rows[r[0]] for r in ok)),
               "setup_s": harness.setup_s(setups),
               "correct_share": len(ok) / len(runs)}
    if tracer:
        tracer.collect()
        items = [(r[4], r[5], r[6]) for r in runs if r[4] is not None]
        res.layers = {**harness.session_layer(setups), "session.peak_rss_mb": rss,
                      **_plans_layer(tracer, items, harness.cores()),
                      "bench.generate_s": generate_s, "bench.oracle_s": oracle_s,
                      "trace.overhead_s": tracer.overhead_s}
        res.profile = {"queries": [{"key": r[0], "latency_s": r[3], "ok": r in ok,
                                    "build": tracer.job_stats(tracer.subtree(r[4])),
                                    "exec": tracer.job_stats([r[5]])}
                                   for r in runs if r[4] is not None],
                       "input_rows": sizes, "spans": tracer.records()}
    harness.shutdown(spark)
    return res


# ---------------------------------------------------------------------------
# curation_jobs
# ---------------------------------------------------------------------------

def curation_jobs(ctx) -> Result:
    from airline_data_warehouse_spark.operators.dedup import release_caches
    from airline_data_warehouse_spark.plans.registry import all_queries
    from airline_data_warehouse_spark.streaming import dedup as sdedup

    res = Result()
    data = os.path.join(ctx.work, "corpus")
    t0 = time.perf_counter()
    info = gen.corpus(ctx.rng, data, int(ctx.scale * CORPUS_DOCS), int(ctx.scale * CORPUS_VECS),
                      EXACT_SHARE, NEAR_SHARE)
    warm_data = os.path.join(ctx.work, "warm_corpus")  # same shape, other rows
    gen.corpus(ctx.rng, warm_data, int(ctx.scale * CORPUS_DOCS), int(ctx.scale * CORPUS_VECS),
               EXACT_SHARE, NEAR_SHARE)
    generate_s = time.perf_counter() - t0
    registry = all_queries()

    def warmup(spark):
        for t in ("documents", "embeddings"):
            spark.read.parquet(os.path.join(data, f"{t}.parquet")).count()

    spark, setups = harness.timed_setups(ctx.work, warmup)
    # A warm-up pass of every job on a corpus of its own: the first run of a
    # job in a JVM takes up to four times a warm one (class loading, code
    # generation). Its wall time is part of setup_s.
    t0 = time.perf_counter()
    for key in CURATION_JOBS:
        try:
            registry[key].builder(spark, warm_data).collect()
        except Exception:  # noqa: BLE001 — the timed pass counts a failing job
            pass
        release_caches()
    warm_pass_s = time.perf_counter() - t0
    tracer = ctx.tracer(spark)
    streams: list[tuple] = []
    if tracer:
        tracer.wrap(sdedup, "start_exact_substring_ingest", "streaming.dedup.ingest",
                    on_return=lambda rec, a, kw, q: streams.append((q, a[1])))
        tracer.wrap(sdedup, "read_exact_substring_spans", "streaming.dedup.read")
        tracer.wrap(sdedup, "verify_spans_against_silver", "streaming.dedup.verify")
    cached = {}

    jobs = []  # (key, columns, rows, latency, completion offset, build span, exec span, df)
    t_start = time.perf_counter()
    for _ in range(max(1, round(ctx.seconds / CURATION_PASS_S))):
        t_pass = time.perf_counter()
        for key in CURATION_JOBS:
            t0 = time.perf_counter()
            try:
                df, rows, build, ex = _run_op(tracer, "operators", key, registry[key].builder,
                                              spark, data)
                if tracer:
                    cached.setdefault(key, []).append(tracer.cached_bytes())
                t1 = time.perf_counter()
                jobs.append((key, df.columns, rows, t1 - t0, t1 - t_pass, build, ex, df))
            except Exception as exc:  # noqa: BLE001 — a failing job is counted, not fatal
                t1 = time.perf_counter()
                jobs.append((key, None, repr(exc), t1 - t0, t1 - t_pass, None, None, None))
            release_caches()
    wall = time.perf_counter() - t_start
    if tracer:
        tracer.restore()
    rss = harness.peak_rss_mb(spark)

    t0 = time.perf_counter()
    con = harness.duckdb_views(data, ("documents", "embeddings"))
    expected = {k: harness.oracle_answer(con, registry[k].oracle) for k in CURATION_JOBS}
    ok = [j for j in jobs if j[1] is not None and harness.matches(j[1], j[2], expected[j[0]])]
    oracle_s = time.perf_counter() - t0
    res.attempted, res.failed = len(jobs), len(jobs) - len(ok)
    res.failures = [j[0] for j in jobs if j not in ok]
    corpus_rows = info["documents"] + info["embeddings"]
    # The operation is a pass: the corpus lands and every job's result is
    # back. Jobs of 2 s swing with the host's load far more than a 13 s pass.
    n = len(CURATION_JOBS)
    passes = [(jobs[i + n - 1][4], all(j in ok for j in jobs[i:i + n])) for i in range(0, len(jobs), n)]
    pass_s = [p for p, _ in passes]
    ok_passes = sum(good for _, good in passes)
    res.e2e = {**_latency_metrics(pass_s, pass_s, ok_passes, wall, corpus_rows * ok_passes),
               "setup_s": harness.setup_s(setups) + warm_pass_s,
               "correct_share": len(ok) / len(jobs)}
    if tracer:
        tracer.collect()
        cores = harness.cores()
        layers = {**harness.session_layer(setups, warm_pass_s), "session.peak_rss_mb": rss,
                  **_plans_layer(tracer, [(j[5], j[6], j[7]) for j in jobs if j[5]], cores)}
        for key in CURATION_JOBS[:-1]:  # the stream job reports as streaming.dedup
            runs = [j for j in jobs if j[0] == key and j[5] is not None]
            bj = tracer.job_stats([x for j in runs for x in tracer.subtree(j[5])])
            xj = tracer.job_stats([j[6] for j in runs])
            wall_j = bj["wall_s"] + xj["wall_s"]
            p = f"operators.{key}."
            layers.update({
                p + "build_s": bj["wall_s"], p + "build_jobs": bj["jobs"],
                p + "exec_s": xj["wall_s"], p + "jobs": xj["jobs"],
                p + "task_cpu_s": bj["task_cpu_s"] + xj["task_cpu_s"],
                p + "shuffle_bytes": bj["shuffle_bytes"] + xj["shuffle_bytes"],
                p + "spill_bytes": bj["spill_bytes"] + xj["spill_bytes"],
                p + "cached_peak_bytes": max(cached.get(key, [0])),
                p + "busy_share": (bj["task_s"] + xj["task_s"]) / (wall_j * cores) if wall_j else 0.0,
                p + "out_rows": len(runs[-1][2]) if runs else 0})
        layers.update(_stream_dedup_layer(streams, jobs))
        layers.update({"bench.generate_s": generate_s, "bench.oracle_s": oracle_s,
                       "trace.overhead_s": tracer.overhead_s})
        res.layers = layers
        res.profile = {"jobs": [{"key": j[0], "latency_s": j[3], "done_s": j[4], "ok": j in ok,
                                 "build": tracer.job_stats(tracer.subtree(j[5])),
                                 "exec": tracer.job_stats([j[6]])}
                                for j in jobs if j[5] is not None], "corpus": info,
                       "stream_batches": [{"batch": p["batchId"], "rows": p["numInputRows"],
                                           "duration_ms": p["durationMs"]}
                                          for q, _ in streams for p in _stream_batches(q)],
                       "spans": tracer.records()}
    harness.shutdown(spark)
    return res


def _stream_batches(query) -> list[dict]:
    from perfbench.trace import stream_progress
    return [p for p in stream_progress(query) if p.get("numInputRows", 0) > 0]


def _stream_dedup_layer(streams, jobs) -> dict[str, float]:
    """Times summed over every ingest of the run; growth, store size and
    output rows from the last one (each ingest starts from an empty store)."""
    per = [[p for p in _stream_batches(q)] for q, _ in streams]
    adds = [p["durationMs"].get("addBatch", 0) / 1000.0 for p in per[-1]] if per else []
    files, size = _dir_size(streams[-1][1]) if streams else (0, 0)
    runs = [j for j in jobs if j[0] == "stream_exact_substring_verified" and j[6] is not None]
    return {
        "streaming.dedup.batch_s": sum(p["durationMs"].get("triggerExecution", 0)
                                       for b in per for p in b) / 1000.0,
        "streaming.dedup.add_batch_s": sum(p["durationMs"].get("addBatch", 0)
                                           for b in per for p in b) / 1000.0,
        "streaming.dedup.add_batch_growth": adds[-1] / adds[0] if len(adds) > 1 and adds[0] else 0.0,
        "streaming.dedup.store_files": files, "streaming.dedup.store_bytes": size,
        "streaming.dedup.verify_s": sum(j[6]["dur_s"] for j in runs),
        "streaming.dedup.out_rows": len(runs[-1][2]) if runs else 0,
    }


# ---------------------------------------------------------------------------
# etl_status_feed
# ---------------------------------------------------------------------------

def _committed_files(checkpoint: str) -> set[str]:
    """File names a streaming query's file source has committed, read from
    its checkpoint's source log (compacted or not)."""
    log = os.path.join(checkpoint, "sources", "0")
    names: set[str] = set()
    if os.path.isdir(log):
        for entry in os.listdir(log):
            if entry.startswith("."):
                continue
            with open(os.path.join(log, entry)) as f:
                for line in f:
                    if line.startswith("{"):
                        names.add(os.path.basename(json.loads(line)["path"]))
    return names


def etl_status_feed(ctx) -> Result:
    from airline_data_warehouse_spark import etl, pipeline, views
    from airline_data_warehouse_spark.sources.csv import read_detected
    from airline_data_warehouse_spark.streaming import status
    from airline_data_warehouse_spark.warehouse import Warehouse
    from pyspark.sql import functions as F

    res = Result()
    drop, wh = os.path.join(ctx.work, "drop"), os.path.join(ctx.work, "warehouse")
    landing, staging = os.path.join(ctx.work, "landing"), os.path.join(ctx.work, "landing_tmp")
    status_path, fact_path = os.path.join(wh, "flight_status_updates"), os.path.join(wh, "fact_sales")
    ck_sink, ck_merge = os.path.join(ctx.work, "ck_sink"), os.path.join(ctx.work, "ck_merge")
    for d in (landing, staging):
        os.makedirs(d, exist_ok=True)
    t0 = time.perf_counter()
    truth = gen.etl_drop(ctx.rng, drop, int(ctx.scale * SALES_ROWS))
    n_files = max(4, round(ctx.seconds / FEED_INTERVAL_S))
    payloads, feed = gen.status_files(ctx.rng, sorted(truth["fact_rows_per_flight"]), n_files, FEED_PER_FILE)
    lookup_keys = [feed["pool"][int(i)] for i in ctx.rng.integers(0, len(feed["pool"]), 10_000)]
    generate_s = time.perf_counter() - t0

    def warmup(spark):
        read_detected(spark, os.path.join(drop, "airlines.csv"))[1].count()

    spark, setups = harness.timed_setups(ctx.work, warmup)
    tracer = ctx.tracer(spark)
    merges, swaps = [], []
    if tracer:
        tracer.wrap(pipeline, "run_full_pipeline", "pipeline.run_full_pipeline")
        tracer.wrap(pipeline, "read_detected", "sources.read_detected")
        for k in list(etl.PROCESSORS):
            tracer.wrap(etl.PROCESSORS, k, name=f"etl.{k}")
        for k in ("write_dim", "write_fact_sales", "append_dirty"):
            tracer.wrap(Warehouse, k, name=f"warehouse.{k}")

        def swap_seen(rec, args, kwargs):
            swaps.append(_dir_size(args[1]) + (sum(1 for n in os.listdir(args[1]) if "=" in n),))

        tracer.wrap(status, "_swap_partitions", "sources.atomic.swap_partitions", on_call=swap_seen)
        tracer.wrap(status, "append_status_sink", "streaming.status.append_status_sink")
        tracer.wrap(status, "start_eligibility_merge", "streaming.status.start_eligibility_merge")
        tracer.wrap(status, "check_insurance", "streaming.status.check_insurance")

    # -- timed region: ingest, then the feed with lookups beside it --------
    t_start = time.perf_counter()
    result = pipeline.run_full_pipeline(spark, drop, wh)
    ingest_s = time.perf_counter() - t_start

    due, landed, sink_done, merge_done = {}, {}, {}, {}
    backlog = []
    feed_t0 = time.time()
    gen_done = threading.Event()
    stop_lookups = threading.Event()
    writing = threading.Event()  # set while a sink-and-merge cycle runs

    def generator():  # open loop: lands on schedule whether or not merges keep up
        for i, text in enumerate(payloads):
            name = f"status-{i:05d}.json"
            due[name] = feed_t0 + i * FEED_INTERVAL_S
            time.sleep(max(0.0, due[name] - time.time()))
            tmp = os.path.join(staging, name)
            with open(tmp, "w") as f:
                f.write(text)
            os.rename(tmp, os.path.join(landing, name))
            landed[name] = time.time()
        gen_done.set()

    lookups = []  # (kind, key, start, end, rows)

    def lookup_client():  # closed loop, one client, while a cycle writes
        i = 0
        while not stop_lookups.is_set():
            if not writing.wait(0.1):
                continue
            key = lookup_keys[i % len(lookup_keys)]
            kind = "check_insurance" if i % 2 == 0 else "v_latest_flight_status"
            i += 1
            t0 = time.time()
            try:
                with tracer.span(f"lookup.{kind}") if tracer else nullcontext():
                    table = spark.read.parquet(status_path)
                    if kind == "check_insurance":
                        rows = status.check_insurance(table, key).collect()
                    else:
                        views.register_views(spark, {"flight_status_updates": table})
                        rows = spark.sql("SELECT flight_key, status, delay_minutes, update_timestamp "
                                         f"FROM v_latest_flight_status WHERE flight_key = '{key}'").collect()
            except Exception as exc:  # noqa: BLE001 — a failed lookup is counted, not fatal
                rows = repr(exc)
            lookups.append((kind, key, t0, time.time(), rows))

    gen_thread = threading.Thread(target=generator)
    look_thread = threading.Thread(target=lookup_client)
    gen_thread.start()
    feed_error = None
    try:
        for k in itertools.count():  # a fixed trigger, as a processing-time trigger would
            time.sleep(max(0.0, feed_t0 + FEED_TRIGGER_OFFSET_S + k * FEED_TRIGGER_S - time.time()))
            finished = gen_done.is_set()
            pending = [n for n in list(landed) if n not in merge_done or n not in sink_done]
            if pending:
                backlog.append(len(pending))
                writing.set()
                q = status.append_status_sink(status.parse_status_stream(
                    status.file_status_source(spark, landing)), status_path, ck_sink)
                q.awaitTermination()
                t = time.time()
                for n in _committed_files(ck_sink) - set(sink_done):
                    sink_done[n] = t
                if look_thread.ident is None:
                    look_thread.start()
                q = status.start_eligibility_merge(status.parse_status_stream(
                    status.file_status_source(spark, landing)), fact_path, ck_merge)
                q.awaitTermination()
                writing.clear()
                t = time.time()
                new = _committed_files(ck_merge) - set(merge_done)
                merges.append((q, new))
                for n in new:
                    merge_done[n] = t
            if finished and all(n in merge_done and n in sink_done for n in landed):
                break
    except Exception as exc:  # noqa: BLE001 — reported as failed status messages below
        feed_error = exc
    finally:
        stop_lookups.set()
        gen_thread.join()
        if look_thread.ident is not None:
            look_thread.join()
    wall = time.perf_counter() - t_start
    if tracer:
        tracer.restore()
    rss = harness.peak_rss_mb(spark)

    # -- checks against the generator's ground truth ----------------------
    t_check = time.perf_counter()
    ingest_ok, quarantined = _check_ingest(spark, wh, truth)
    ingest_ok = ingest_ok and feed_error is None
    final = _latest_status(spark, status_path) if feed_error is None else {}
    latest_ok = {fk: final.get(fk) == v for fk, v in feed["latest"].items()}
    fact = spark.read.parquet(fact_path)
    elig = {r[0]: r[1] for r in fact.filter(F.col("is_eligible_insurance"))
            .groupBy("flight_key").count().collect()}
    want = {fk: truth["fact_rows_per_flight"][fk] for fk in feed["eligible"]}
    flags_ok = elig == want
    msgs: dict[str, list[tuple]] = {}
    for i, text in enumerate(payloads):
        for line in text.splitlines():
            m = json.loads(json.loads(line)["value"])
            msgs.setdefault(m["flight_key"], []).append(
                (f"status-{i:05d}.json", m["update_timestamp"], m["status"], m["delay_minutes"]))
    good_lookups = [lk for lk in lookups if _lookup_ok(lk, msgs, sink_done)]
    feed_ok = flags_ok and all(latest_ok.values()) and len(merge_done) == len(payloads)
    check_s = time.perf_counter() - t_check
    res.attempted = 1 + len(payloads) + len(lookups)
    res.failed = res.attempted - (int(ingest_ok) + len(payloads) * feed_ok + len(good_lookups))
    res.failures = ([] if ingest_ok else ["ingest"]) + ([] if feed_ok else [
        f"feed: flags_ok={flags_ok} latest_wrong={sum(not v for v in latest_ok.values())} "
        f"merged={len(merge_done)}/{len(payloads)} error={feed_error!r}"]) + [
        f"lookup {lk[0]} {lk[1]} -> {lk[4]}" for lk in lookups if lk not in good_lookups]
    lag = [merge_done[n] - due[n] for n in due if n in merge_done]
    lat = [lk[3] - lk[2] for lk in lookups] or [wall]
    look_busy = sum(lk[3] - lk[2] for lk in lookups)  # the client waits out the idle gaps
    res.e2e = {"op_p50_s": quantile(lat, 0.5), "op_p90_s": quantile(lat, 0.9),
               "ops_per_s": len(good_lookups) / look_busy if lookups else 0.0,
               "lag_p50_s": quantile(lag, 0.5) if lag else wall,
               "lag_p90_s": quantile(lag, 0.9) if lag else wall,
               "rows_per_s": truth["csv_rows"] / ingest_s,
               "setup_s": harness.setup_s(setups),
               "correct_share": (res.attempted - res.failed) / res.attempted}
    if tracer:
        tracer.collect()
        res.layers = _etl_layers(tracer, result, quarantined, truth["csv_bytes"], wh, merges,
                                 swaps, due, backlog)
        res.layers.update({**harness.session_layer(setups), "session.peak_rss_mb": rss,
                           "bench.generate_s": generate_s, "bench.oracle_s": check_s,
                           "feed.generator_late_s": max(landed[n] - due[n] for n in landed),
                           "trace.overhead_s": tracer.overhead_s})
        res.profile = {"ingest_s": ingest_s, "csv_rows": truth["csv_rows"], "files": n_files,
                       "merge_runs": len(merges), "backlog": backlog,
                       "lags": lag, "lookups": len(lookups), "spans": tracer.records()}
    harness.shutdown(spark)
    return res


def _check_ingest(spark, wh: str, truth: dict) -> tuple[bool, int]:
    """Quarantine counts per (source, reason), dimension and fact row
    counts and the fact's exact total against the generator's truth.
    Returns the verdict and the number of quarantined rows."""
    from pyspark.sql import functions as F

    dirty = {f"{r[0]}|{r[1]}": r[2] for r in spark.read.parquet(os.path.join(wh, "dirty_data"))
             .groupBy("source_table", "error_reason").count().collect()}
    fact = spark.read.parquet(os.path.join(wh, "fact_sales"))
    total = fact.agg(F.sum("total_amount")).collect()[0][0]
    dims = all(spark.read.parquet(os.path.join(wh, t)).count() == truth[t]
               for t in ("dim_passenger", "dim_airport", "dim_airline", "dim_flight"))
    return (dirty == truth["quarantine"] and fact.count() == truth["fact_rows"]
            and str(total) == truth["fact_total"] and dims), sum(dirty.values())


def _latest_status(spark, status_path: str) -> dict[str, tuple[str, int]]:
    from airline_data_warehouse_spark import views

    views.register_views(spark, {"flight_status_updates": spark.read.parquet(status_path)})
    return {r[0]: (r[1], r[2]) for r in spark.sql(
        "SELECT flight_key, status, delay_minutes FROM v_latest_flight_status").collect()}


def _lookup_ok(lookup, msgs: dict, sink_done: dict) -> bool:
    """A lookup must return the newest message of its flight among the
    files the status table held at some moment during the lookup: no
    older than the files committed before it started, no newer than
    those committed before it ended."""
    kind, key, start, end, rows = lookup
    if isinstance(rows, str) or len(rows) > 1:
        return False
    before = [m for m in msgs.get(key, []) if sink_done.get(m[0], float("inf")) <= start]
    until = [m for m in msgs.get(key, []) if sink_done.get(m[0], float("inf")) <= end]
    lo = max((m[1] for m in before), default=None)
    if not rows:
        return lo is None
    r = rows[0]
    ts = r["update_timestamp"].strftime("%Y-%m-%dT%H:%M:%SZ")
    match = [m for m in until if m[1] == ts]
    if not match or (lo is not None and ts < lo) or ts != max(m[1] for m in until if m[1] <= ts):
        return False
    _, _, st, delay = match[0]
    ok = r["flight_key"] == key and r["status"] == st and r["delay_minutes"] == delay
    if kind == "check_insurance":
        ok = ok and r["is_eligible"] == (delay > 240) and r["delay_hours"] == delay // 60
    return ok


def _etl_layers(tracer, result, quarantined: int, csv_bytes: int, wh: str, merges, swaps, due,
                backlog) -> dict[str, float]:
    from perfbench.trace import rest_time

    spans = tracer.spans
    by = lambda prefix: [s for s in spans if s["name"].startswith(prefix)]  # noqa: E731
    pipe = by("pipeline.run_full_pipeline")
    writers = by("warehouse.")
    rows_in = sum(f.total_records for f in result.files)
    rows_clean = sum(f.clean_records for f in result.files)
    files, size = _dir_size(wh)
    progress = [p for q, _ in merges for p in _stream_batches(q)]
    d = lambda k: sum(p["durationMs"].get(k, 0) for p in progress) / 1000.0  # noqa: E731
    starts = {}  # batch start of the merge run that committed each file
    for q, committed in merges:
        batches = _stream_batches(q)
        for n in committed if batches else ():
            starts[n] = rest_time(batches[0]["timestamp"].replace("Z", "GMT"))
    look = [s for s in spans if s["name"].startswith("lookup.")]
    look_stats = tracer.job_stats([x for s in look for x in tracer.subtree(s)])
    return {
        "sources.detect_s": sum(s["dur_s"] for s in by("sources.read_detected")),
        "etl.process_s": sum(s["dur_s"] for s in by("etl.")),
        "pipeline.self_s": sum(s["self_s"] for s in pipe),
        "pipeline.jobs": sum(len(s["own_jobs"]) for s in pipe),
        "etl.rows_in": rows_in, "etl.rows_clean": rows_clean,
        "etl.rows_quarantined": quarantined,
        "etl.clean_ratio": rows_clean / rows_in if rows_in else 0.0,
        "warehouse.write_s": sum(s["dur_s"] for s in writers),
        "warehouse.bytes_written": size, "warehouse.files_written": files,
        "warehouse.write_amp": size / csv_bytes,
        "streaming.status.runs": len(merges),
        "streaming.status.batch_s": d("triggerExecution"),
        "streaming.status.add_batch_s": d("addBatch"),
        "streaming.status.planning_s": d("queryPlanning"),
        "streaming.status.commit_s": d("walCommit") + d("commitOffsets"),
        "streaming.status.queue_wait_s": (statistics.mean(starts[n] - due[n] for n in starts)
                                          if starts else 0.0),
        "streaming.status.backlog_files": max(backlog, default=0),
        "streaming.status.input_rows": sum(p.get("numInputRows", 0) for p in progress),
        "sources.atomic.partitions_swapped": sum(s[2] for s in swaps),
        "sources.atomic.bytes_rewritten": sum(s[1] for s in swaps),
        "views.lookup_jobs": look_stats["jobs"] / len(look) if look else 0.0,
        "views.lookup_input_bytes": look_stats["input_bytes"] / len(look) if look else 0.0,
    }
