"""The per-layer metric set, and the spans every traced workload puts
around the package's public entry points.

Every traced run reports every name in ``PER_LAYER``; a layer a workload
does not exercise reports 0 (no work done there).
"""

from __future__ import annotations

OPERATOR_FIELDS = ("build_s", "build_jobs", "plan_s", "exec_s", "jobs", "stages", "tasks",
                   "task_cpu_s", "task_run_s", "shuffle_read_bytes", "shuffle_write_bytes",
                   "spill_bytes", "python_bytes_sent")

PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "api.query_points.self_ms": "ms",
    "api.rows_returned": "rows",
    "tsdb.query_range.build_ms": "ms",
    "spark.collect_ms": "ms",
    "spark.jobs_per_query": "count",
    "spark.tasks_per_query": "count",
    "spark.files_read_per_query": "count",
    "spark.partitions_read_per_query": "count",
    "tsdb.points.reuse_ratio": "ratio",
    "tsdb.points.rebuild_ms": "ms",
    "api.ingest_points.to_df_ms": "ms",
    "tsdb.ingest.write_ms": "ms",
    "tsdb.ingest.shuffle_write_bytes": "B",
    "streaming.addBatch_ms": "ms",
    "streaming.walCommit_ms": "ms",
    "streaming.commitOffsets_ms": "ms",
    "streaming.rows_per_epoch": "rows",
    "tsdb.ingest_epoch.driver_ms": "ms",
}
for _phase in ("bulk", "stream", "api"):
    PER_LAYER[f"store.{_phase}.files_per_partition"] = "count"
    PER_LAYER[f"store.{_phase}.bytes_per_point"] = "B"
for _set in ("floor", "heavy"):
    for _f in OPERATOR_FIELDS:
        PER_LAYER[f"operators.{_set}.{_f}"] = (
            "s" if _f.endswith("_s") else "B" if _f.endswith("_bytes") or _f.endswith("_sent")
            else "count")
PER_LAYER.update({
    "cpu.steal_frac": "ratio",
    "cpu.busy_frac": "ratio",
    "tracing.overhead_frac": "ratio",
})


def instrument_api(tracer) -> None:
    """Spans around ``api``, ``TimeSeriesStore`` and ``DataFrame.collect``
    (restored by ``tracer.unwrap()``).  ``points()`` calls also record
    whether they handed back the same handle as the call before."""
    from pyspark.sql.classic.dataframe import DataFrame

    from time_series_databse_engine_spark import api
    from time_series_databse_engine_spark.tsdb import TimeSeriesStore

    tracer.wrap(api, "query_points", "api.query_points")
    tracer.wrap(api, "ingest_points", "api.ingest_points")
    tracer.wrap(TimeSeriesStore, "query_range", "tsdb.query_range")
    tracer.wrap(TimeSeriesStore, "ingest", "tsdb.ingest")
    tracer.wrap(TimeSeriesStore, "ingest_epoch", "tsdb.ingest_epoch")
    tracer.wrap(DataFrame, "collect", "spark.collect")

    orig = TimeSeriesStore.points
    last = tracer.handles

    def points(store):
        with tracer.span("tsdb.points") as rec:
            out = orig(store)
            rec["reused"] = last.get(id(store)) == id(out)
            last[id(store)] = id(out)
            return out

    TimeSeriesStore.points = points
    tracer._restore.append((TimeSeriesStore, "points", orig))


def query_layers(tracer) -> dict[str, float]:
    """Per-request layer metrics of the ``api.query_points`` spans."""
    qs = tracer.named("api.query_points")
    out: dict[str, float] = {}
    if not qs:
        return out
    by_id = {s["id"]: s for s in tracer.spans}
    out["api.query_points.self_ms"] = sum(tracer.self_ms(s) for s in qs) / len(qs)
    out["tsdb.query_range.build_ms"] = tracer.mean_ms("tsdb.query_range")
    collects = [s for s in tracer.named("spark.collect")
                if s["parent"] is not None and by_id[s["parent"]]["name"] == "api.query_points"]
    out["spark.collect_ms"] = sum(tracer.dur_ms(s) for s in collects) / max(len(collects), 1)
    pts = [s for s in tracer.named("tsdb.points")
           if s["parent"] is not None and by_id[s["parent"]]["name"] == "tsdb.query_range"]
    if pts:
        out["tsdb.points.reuse_ratio"] = sum(1 for s in pts if s["reused"]) / len(pts)
        rebuilds = [by_id[by_id[s["parent"]]["parent"]] for s in pts if not s["reused"]
                    and by_id[s["parent"]]["parent"] is not None]
        if rebuilds:
            out["tsdb.points.rebuild_ms"] = (
                sum(tracer.dur_ms(s) for s in rebuilds) / len(rebuilds))
    return out


def spark_query_layers(status, group: str, n_queries: int) -> dict[str, float]:
    """Jobs, tasks, files and partitions per query for the jobs of job
    group ``group`` (ids from the ``statusTracker``, counters from the
    REST API) and the SQL executions it describes."""
    from perfbench.tracing import job_totals, sql_metric_sums

    ids = set(status.sc.statusTracker().getJobIdsForGroup(group))
    tot = job_totals([j for j in status.jobs() if j["jobId"] in ids], status.stages())
    execs = [e for e in status.sql() if e.get("description") == group]
    sqlm = sql_metric_sums(execs, {"number of files read", "number of partitions read"})
    n = max(n_queries, 1)
    return {
        "spark.jobs_per_query": len(ids) / n,
        "spark.tasks_per_query": tot["tasks"] / n,
        "spark.files_read_per_query": sqlm["number of files read"] / n,
        "spark.partitions_read_per_query": sqlm["number of partitions read"] / n,
    }


TRACE_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.port": "0",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}


def finish(tracer, run, values: dict[str, float], span_path: str) -> dict[str, tuple[float, str]]:
    """Fill every per-layer metric (0 where the workload has no such
    layer) and dump the spans."""
    from perfbench.harness import context

    ctx = context(run)
    values = dict(values)
    values["cpu.steal_frac"] = ctx["steal_frac"]
    values["cpu.busy_frac"] = ctx["busy_frac"]
    tracer.dump(span_path)
    return {k: (float(values.get(k, 0.0)), u) for k, u in PER_LAYER.items()}
