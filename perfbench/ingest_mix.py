"""ingest_mix: the write path, with reads beside the writes.

One client, one store, three timed phases:

1. bulk: ``TimeSeriesStore.ingest`` of seeded batches of new hours;
2. stream: a ``stream_to_store`` drain of Parquet source files over
   several epochs (the exactly-once ``ingest_epoch`` path), checkpoint
   included;
3. api: a loop of 1,000-point ``api.ingest_points`` writes, each followed
   by a read-your-write ``api.query_points`` over the window just written.

Every write drops the store's cached reader and adds files, so a gain for
writes that costs reads or bytes on disk shows here and not in
range_read.  ``p50_ms`` is the median write-plus-read-your-write round;
``ops_per_s`` is the points per second of the bulk and stream phases.  Checks: every read-your-write returns exactly the points just
written, one range read after each bulk and stream phase matches the
closed form, and the final row count equals the points ingested (no
duplicates from the stream phase).
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

from perfbench import harness, layers
from perfbench.datagen import api_points, points_df
from perfbench.verify import PointSpec, check_points

S_MS = 1_700_000_000_000
H = 3_600_000
BASE_N = 50_000           # steps x 2 metrics: the store before the phases
BASE_BUILDS = 3
BULK_BATCHES = 4
BULK_STEPS = 31_250       # per batch, x 2 metrics
STREAM_N = 62_500         # steps x 2 metrics, over STREAM_FILES files
STREAM_FILES = 8
FILES_PER_TRIGGER = 2
API_BATCH = 1_000
MIN_ROUNDS = 5
LIMIT = 10_000


def specs(seed: int) -> dict[str, PointSpec]:
    rng = random.Random(seed)
    base = PointSpec.from_seed(rng, S_MS, BASE_N, ("base.a", "base.b"))
    bulk = PointSpec.from_seed(rng, base.end_ms + 1000, BULK_BATCHES * BULK_STEPS,
                               ("bulk.a", "bulk.b"))
    stream = PointSpec.from_seed(rng, bulk.end_ms + 1000, STREAM_N, ("stream.a", "stream.b"))
    api = PointSpec.from_seed(rng, stream.end_ms + H, 1_000_000, ("api.w",))
    return {"base": base, "bulk": bulk, "stream": stream, "api": api}


def check_range(run, store, spec: PointSpec, what: str, seed: int) -> None:
    """One untimed range read inside ``spec``'s span, checked exactly."""
    from time_series_databse_engine_spark import api

    rng = random.Random(seed)
    lo = spec.start_ms + rng.randrange(0, spec.n - 3600) * spec.step_ms
    hi = lo + H - 1
    m = rng.randrange(len(spec.names))
    resp = api.query_points(store, lo, hi, spec.names[m], LIMIT)
    bad = check_points(resp["points"], spec.expected(lo, hi, spec.names[m], LIMIT), lo, hi)
    run.check(bad is None, f"{what} range read: {bad}")


def write_stream_source(spec: PointSpec, path: str) -> None:
    """The stream's input: ``spec``'s points as ``STREAM_FILES`` Parquet
    files of ``(metric, ts, value)``, points dealt round-robin to files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    rows = [(m, i) for i in range(spec.n) for m in range(len(spec.names))]
    for f in range(STREAM_FILES):
        part = rows[f::STREAM_FILES]
        pq.write_table(pa.table({
            "metric": pa.array([spec.names[m] for m, _ in part]),
            "ts": pa.array([(spec.start_ms + i * spec.step_ms) * 1000 for _, i in part],
                           pa.timestamp("us", tz="UTC")),
            "value": pa.array([spec.value(m, i) for m, i in part], pa.float64()),
        }), os.path.join(path, f"part-{f:02d}.parquet"))


def api_round(run, store, spec: PointSpec, k: int, group: str | None = None):
    """Write batch ``k`` through the API and read it back; returns the
    write and read latencies in seconds (``inf`` when the check fails)
    and the points read.  With ``group``, the write's and the read's jobs
    go to the job groups ``<group>:write`` and ``<group>:read``."""
    from time_series_databse_engine_spark import api

    sc = store.spark.sparkContext

    first, last = k * API_BATCH, (k + 1) * API_BATCH
    pts = api_points(spec, 0, first, last)
    lo, hi = pts[0]["timestamp"], pts[-1]["timestamp"]
    if group:
        sc.setJobGroup(f"{group}:write", f"{group}:write")
    rows = 0
    t0 = time.perf_counter()
    try:
        api.ingest_points(store, pts)
        t1 = time.perf_counter()
        if group:
            sc.setJobGroup(f"{group}:read", f"{group}:read")
        resp = api.query_points(store, lo, hi, spec.names[0], LIMIT)
        t2 = time.perf_counter()
        rows = len(resp["points"])
        bad = check_points(resp["points"], spec.expected(lo, hi, spec.names[0], LIMIT), lo, hi)
    except Exception as e:  # a failed request is counted, not fatal
        t1 = t2 = time.perf_counter()
        bad = f"{type(e).__name__}: {e}"
    ok = run.check(bad is None, f"read-your-write batch {k}: {bad}")
    return (t1 - t0, t2 - t1, rows) if ok else (float("inf"), float("inf"), rows)


def main(run) -> None:
    from time_series_databse_engine_spark import TimeSeriesStore
    from time_series_databse_engine_spark.streaming import stream_to_store

    spark, start_s = harness.start_session(run, layers.TRACE_CONF if run.trace else None)
    sp = specs(run.seed)
    sc = spark.sparkContext
    tracer = status = None
    if run.trace:
        from perfbench.tracing import SparkStatus, Tracer

        tracer, status = Tracer(), SparkStatus(spark)

    # setup: the base store, built BASE_BUILDS times (the first build warms
    # the ingest path; the median counts)
    builds = []
    for b in range(BASE_BUILDS):
        path = f"{run.work}/store{b}"
        builds.append(harness.timed(TimeSeriesStore(spark, path).ingest, points_df(spark, sp["base"]))[0])
    store = TimeSeriesStore(spark, path)
    src = f"{run.work}/stream_src"
    write_stream_source(sp["stream"], src)
    # warm-up: one write + read-your-write on a throwaway store, so the
    # first timed round does not pay the API path's first-call cost
    warm_s = harness.timed(api_round, run, TimeSeriesStore(spark, f"{run.work}/warm"),
                           sp["api"], 0)[0]
    setup_s = start_s + statistics.median(builds) + warm_s
    run.mark("setup")
    phase_stats = {}

    def stats(phase: str) -> None:
        if tracer is not None:
            st = store.stats()
            phase_stats[phase] = st
            n = st["rows"] or 1
            vals[f"store.{phase}.files_per_partition"] = st["files_per_partition"]
            vals[f"store.{phase}.bytes_per_point"] = st["bytes"] / n

    vals: dict[str, float] = {}
    if tracer is not None:
        layers.instrument_api(tracer)
    try:
        # 1. bulk
        if tracer is not None:
            sc.setJobGroup("im:bulk", "im:bulk")
        cpu0 = harness.tree_cpu_s()
        bulk_t = 0.0
        for j in range(BULK_BATCHES):
            df = points_df(spark, sp["bulk"], j * BULK_STEPS, (j + 1) * BULK_STEPS)
            bulk_t += harness.timed(store.ingest, df)[0]
        bulk_pts = BULK_BATCHES * BULK_STEPS * 2
        cpu_s = harness.tree_cpu_s() - cpu0
        if tracer is not None:
            sc.setJobGroup("im:check", "im:check")
        check_range(run, store, sp["bulk"], "bulk", run.seed)
        stats("bulk")
        run.mark("bulk")

        # 2. stream
        cpu0 = harness.tree_cpu_s()
        t0 = time.perf_counter()
        sq = stream_to_store(
            spark.readStream.schema("metric string, ts timestamp, value double")
            .option("maxFilesPerTrigger", FILES_PER_TRIGGER).parquet(src),
            store, f"{run.work}/stream_ckpt", metric_col="metric").start()
        sq.awaitTermination()
        stream_t = time.perf_counter() - t0
        cpu_s += harness.tree_cpu_s() - cpu0
        progress = sq.recentProgress
        stream_pts = STREAM_N * 2
        check_range(run, store, sp["stream"], "stream", run.seed + 1)
        stats("stream")
        run.mark("stream")

        # 3. api write + read-your-write loop
        writes: list[float] = []
        reads: list[float] = []
        rounds: list[float] = []
        untraced_rounds: list[float] = []
        read_rows: list[int] = []
        deadline = time.perf_counter() + run.seconds
        k = 0
        while k < MIN_ROUNDS or time.perf_counter() < deadline:
            # traced runs alternate untraced and traced rounds
            traced_half = tracer is not None and k % 2 == 1
            if tracer is not None and not traced_half:
                tracer.unwrap()
            group = None if tracer is None else "im:api" if traced_half else "im:plain"
            if traced_half:
                with tracer.request():
                    w, r, n = api_round(run, store, sp["api"], k, group)
                read_rows.append(n)
            else:
                w, r, _ = api_round(run, store, sp["api"], k, group)
            if tracer is not None and not traced_half:
                layers.instrument_api(tracer)
            (rounds if not tracer or traced_half else untraced_rounds).append(w + r)
            writes.append(w)
            reads.append(r)
            k += 1
        api_pts = k * API_BATCH
        stats("api")
        run.mark("api")
    finally:
        if tracer is not None:
            tracer.unwrap()

    # exactly-once: the store holds every point ingested, once
    if tracer is not None:
        sc.setJobGroup("im:check", "im:check")
    final = store.stats()
    want = BASE_N * 2 + bulk_pts + stream_pts + api_pts
    run.check(final["rows"] == want, f"store rows {final['rows']} != points ingested {want}")
    shutil.rmtree(src, ignore_errors=True)

    if not run.trace:
        named = {
            "bulk_ingest_pts_per_s": (bulk_pts / bulk_t, "pts/s"),
            "stream_ingest_pts_per_s": (stream_pts / stream_t, "pts/s"),
            "api_write_p50_ms": (harness.percentile(writes, 50) * 1e3, "ms"),
            "ryw_query_p50_ms": (harness.percentile(reads, 50) * 1e3, "ms"),
            "api_round_p50_ms": (harness.percentile(rounds, 50) * 1e3, "ms"),
            "api_rounds": (k, "count"),
            "bytes_per_point": (final["bytes"] / final["rows"], "B"),
            "files_per_partition": (final["files_per_partition"], "count"),
            "stream_epochs": (len(progress), "count"),
            "setup_s": (setup_s, "s"),
        }
        metrics = {
            "setup_s": (setup_s, "s"),
            "p50_ms": (harness.percentile(rounds, 50) * 1e3, "ms"),
            "ops_per_s": ((bulk_pts + stream_pts) / (bulk_t + stream_t), "1/s"),
            "cpu_ms_per_op": (cpu_s * 1e3 / (bulk_pts + stream_pts), "ms"),
            "peak_rss_mb": (harness.peak_rss_mb(spark), "MB"),
        }
        harness.emit(run, metrics, {"named": named, "builds_s": builds, "final": final,
                                    "writes_s": writes, "reads_s": reads, "progress": progress})
        return

    from perfbench.tracing import job_totals, parse_time

    vals.update(layers.query_layers(tracer))
    vals["api.rows_returned"] = sum(read_rows) / max(len(read_rows), 1)
    vals["session.start_s"] = start_s
    vals["session.warmup_s"] = builds[0] + warm_s
    api_calls = tracer.named("api.ingest_points")
    ing = tracer.named("tsdb.ingest")
    if api_calls:
        vals["api.ingest_points.to_df_ms"] = sum(tracer.self_ms(s) for s in api_calls) / len(api_calls)
    vals["tsdb.ingest.write_ms"] = tracer.mean_ms("tsdb.ingest")
    jobs = status.jobs()
    stages = status.stages()
    ingest_jobs = [j for j in jobs if j.get("jobGroup") in ("im:bulk", "im:api:write")]
    vals.update(layers.spark_query_layers(status, "im:api:read", len(rounds)))
    if ing:
        vals["tsdb.ingest.shuffle_write_bytes"] = (
            job_totals(ingest_jobs, stages)["shuffle_write_bytes"] / len(ing))
    if progress:
        for key in ("addBatch", "walCommit", "commitOffsets"):
            vals[f"streaming.{key}_ms"] = sum(p["durationMs"].get(key, 0) for p in progress) / len(progress)
        vals["streaming.rows_per_epoch"] = sum(p["numInputRows"] for p in progress) / len(progress)
    epochs = tracer.named("tsdb.ingest_epoch")
    if epochs:
        # wall-clock window of each span, against the Spark jobs inside it
        off = time.time() - time.perf_counter()
        timed_jobs = [(parse_time(j["submissionTime"]), parse_time(j["completionTime"]))
                      for j in jobs if "completionTime" in j and "submissionTime" in j]
        driver = []
        for s in epochs:
            a, b = s["start"] + off, s["end"] + off
            job_s = sum(max(0.0, min(e, b) - max(st, a)) for st, e in timed_jobs)
            driver.append(max(0.0, (b - a) - job_s) * 1e3)
        vals["tsdb.ingest_epoch.driver_ms"] = sum(driver) / len(driver)
    if untraced_rounds and rounds:
        vals["tracing.overhead_frac"] = statistics.median(rounds) / statistics.median(untraced_rounds) - 1.0
    metrics = layers.finish(tracer, run, vals, f"{harness.WORK_ROOT}/spans-ingest_mix-seed{run.seed}.json")
    harness.emit(run, metrics, {"named": metrics, "phase_stats": phase_stats, "final": final})
