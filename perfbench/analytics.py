"""analytics: the operator surface through ``__spark_entry__.queries()``.

One client runs a fixed list of queries against seeded tables (see
``datagen.write_tables``), each timed to its collected result.  The check
runs outside the timed region: every result's row count and
order-insensitive digest must equal its ``oracle_sql()`` answer on DuckDB.

* floor set: small queries dominated by Python-side plan building and
  per-job overhead;
* heavy set: iterative graph and pair-generating operators dominated by
  shuffles and rounds.

Setup is the session start, the table generation and one warm-up pass
(which is also checked).  The ``api`` and ``tsdb`` layers are bypassed.
The unit of work is one pass over all the queries (a report refresh):
``p50_ms`` is the median pass time, ``ops_per_s`` the queries per second.
"""

from __future__ import annotations

import statistics
import time

from perfbench import harness, layers
from perfbench.datagen import write_tables
from perfbench.verify import check_digest, digest

FLOOR = ("range_scan", "downsample_1h", "sessionize", "bpe_tokenize")
HEAVY = ("dedup_clusters", "assoc_rules", "minhash_lsh")
SETS = {"floor": FLOOR, "heavy": HEAVY}
TABLES = ("events", "documents", "lineitem", "part")


def oracle_digests(sf_dir: str, oracles: dict[str, str]) -> dict[str, tuple[int, str]]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name in FLOOR + HEAVY:
            cur = con.execute(oracles[name])
            cols = [d[0] for d in cur.description]
            out[name] = digest(cols, cur.fetchall())
        return out
    finally:
        con.close()


def _traced_query(spark, query, sf_dir, tracer, set_name: str, name: str):
    """Build, plan and collect one query in its own job groups and spans."""
    sc = spark.sparkContext
    g = f"an:{set_name}:{name}"
    with tracer.request():
        sc.setJobGroup(g + ":build", g + ":build")
        with tracer.span("operators.build", query=name, set=set_name):
            df = query(spark, sf_dir)
        sc.setJobGroup(g + ":exec", g + ":exec")
        with tracer.span("operators.plan", query=name, set=set_name):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("operators.exec", query=name, set=set_name):
            return df, df.collect()


def run_pass(run, spark, queries, sf_dir, want, tracer=None, parity: int = 0):
    """Every query once; returns ``{name: seconds to result}`` (``inf``
    when the result is wrong or the query fails).  With ``tracer``, only
    the queries whose position has the given ``parity`` are traced."""
    times = {}
    for set_name, names in SETS.items():
        for name in names:
            try:
                t0 = time.perf_counter()
                if tracer is None or (FLOOR + HEAVY).index(name) % 2 != parity:
                    if tracer is not None:  # keep its jobs out of the traced groups
                        spark.sparkContext.setJobGroup("an-plain", "an-plain")
                    df = queries[name](spark, sf_dir)
                    rows = df.collect()
                else:
                    df, rows = _traced_query(spark, queries[name], sf_dir, tracer, set_name, name)
                dt = time.perf_counter() - t0
                bad = check_digest(digest(df.columns, [tuple(r) for r in rows]), want[name])
            except Exception as e:  # a failed query is counted, not fatal
                dt, bad = float("inf"), f"{type(e).__name__}: {e}"
            ok = run.check(bad is None, f"{name}: {bad}")
            times[name] = dt if ok else float("inf")
    return times


def set_sums(times: dict[str, float]) -> dict[str, float]:
    return {s: sum(times[n] for n in names) for s, names in SETS.items()}


def main(run) -> None:
    spark, start_s = harness.start_session(run, layers.TRACE_CONF if run.trace else None)
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    sf_dir = f"{run.work}/tables"
    gen_s = harness.timed(write_tables, sf_dir, run.seed)[0]
    want = oracle_digests(sf_dir, oracles)
    run.mark("inputs")

    warm = run_pass(run, spark, queries, sf_dir, want)
    setup_s = start_s + gen_s + sum(warm.values())
    run.mark("warmup")

    if not run.trace:
        passes = []
        cpu0 = harness.tree_cpu_s()
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < run.seconds:
            passes.append(run_pass(run, spark, queries, sf_dir, want))
        wall = time.perf_counter() - t0
        cpu_s = harness.tree_cpu_s() - cpu0
        run.mark("passes")
        per_query = {n: statistics.median([p[n] for p in passes]) for n in FLOOR + HEAVY}
        pass_s = statistics.median([sum(p.values()) for p in passes])
        sums = [set_sums(p) for p in passes]
        floor_s = statistics.median([s["floor"] for s in sums])
        heavy_s = statistics.median([s["heavy"] for s in sums])
        named = {
            "floor_queries_s": (floor_s, "s"),
            "heavy_queries_s": (heavy_s, "s"),
            "query_p50_ms": (statistics.median(list(per_query.values())) * 1e3, "ms"),
            "pass_s": (pass_s, "s"),
            "passes": (len(passes), "count"),
            "setup_s": (setup_s, "s"),
        }
        metrics = {
            "setup_s": (setup_s, "s"),
            "p50_ms": (pass_s * 1e3, "ms"),
            "ops_per_s": (sum(t != float("inf") for p in passes for t in p.values()) / wall, "1/s"),
            "cpu_ms_per_op": (cpu_s * 1e3 / (len(passes) * len(FLOOR + HEAVY)), "ms"),
            "peak_rss_mb": (harness.peak_rss_mb(spark), "MB"),
        }
        harness.emit(run, metrics, {"named": named, "per_query_s": per_query,
                                    "warmup_s": warm, "gen_s": gen_s})
        return

    from perfbench.tracing import SparkStatus, Tracer, job_totals, sql_metric_sums

    tracer, status = Tracer(), SparkStatus(spark)
    # two passes, each tracing every other query, so each query has one
    # traced and one untraced time and warming between the passes does
    # not read as tracing cost
    first = run_pass(run, spark, queries, sf_dir, want, tracer, 0)
    second = run_pass(run, spark, queries, sf_dir, want, tracer, 1)
    order = FLOOR + HEAVY
    traced = {n: (first if i % 2 == 0 else second)[n] for i, n in enumerate(order)}
    plain = {n: (second if i % 2 == 0 else first)[n] for i, n in enumerate(order)}
    jobs, stages, execs = status.jobs(), status.stages(), status.sql()
    vals = {"session.start_s": start_s, "session.warmup_s": sum(warm.values())}
    for set_name in SETS:
        pre = f"an:{set_name}:"
        for part in ("build", "plan", "exec"):
            vals[f"operators.{set_name}.{part}_s"] = sum(
                tracer.dur_ms(s) / 1e3 for s in tracer.named(f"operators.{part}")
                if s["set"] == set_name)
        build = [j for j in jobs if (j.get("jobGroup") or "").startswith(pre)
                 and j["jobGroup"].endswith(":build")]
        vals[f"operators.{set_name}.build_jobs"] = len(build)
        tot = job_totals([j for j in jobs if (j.get("jobGroup") or "").startswith(pre)], stages)
        for f in ("jobs", "stages", "tasks", "task_cpu_s", "task_run_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            vals[f"operators.{set_name}.{f}"] = tot[f]
        sent = sql_metric_sums(
            [e for e in execs if (e.get("description") or "").startswith(pre)],
            {"data sent to Python workers"})
        vals[f"operators.{set_name}.python_bytes_sent"] = sent["data sent to Python workers"]
    vals["tracing.overhead_frac"] = sum(traced.values()) / sum(plain.values()) - 1.0
    metrics = layers.finish(tracer, run, vals, f"{harness.WORK_ROOT}/spans-analytics-seed{run.seed}.json")
    harness.emit(run, metrics, {"named": metrics, "per_query_s": traced})
