"""range_read: the reference's read path under a closed loop of 4 clients.

Setup starts ``local[4]``, builds the store three times from the same
seeded points (setup time counts the median build) and sends one warm-up
request of each kind.  The store: 4 metrics x 150,000 points at 1 s spacing,
600,000 points in 42 hour partitions.

Each client thread sends its next ``api.query_points`` request only after
the previous one returned.  The request mix (fixed per seed):

* 50 % recent 1 h, one metric (3,600 points);
* 20 % recent 1 h, all metrics (14,400 points, cut at the 10,000 cap);
* 20 % old 24 h, one metric (86,400 points, cut at the cap);
* 10 % an empty range past the end of the data.

Every response is checked exactly against the generator's closed form.
There are no writes, so the store's cached reader is never dropped.
"""

from __future__ import annotations

import random
import statistics
import threading
import time

from perfbench import harness, layers
from perfbench.datagen import points_df
from perfbench.verify import PointSpec, check_points

START_MS = 1_700_000_000_000
N_PER_METRIC = 150_000
METRICS = ("cpu.load", "disk.io", "mem.used", "net.rx")
CLIENTS = 4
LIMIT = 10_000
H = 3_600_000
BUILDS = 3


MIX = (("recent_1h", 32), ("recent_1h_all", 13), ("old_24h", 13), ("empty", 6))


def templates(rng: random.Random, spec: PointSpec) -> list[tuple]:
    """Seeded request templates ``(kind, lo, hi, metric)`` in the fixed
    proportions of ``MIX`` (64 in all)."""
    out = []
    for kind, count in MIX:
        for _ in range(count):
            end = spec.end_ms - rng.randrange(0, 600) * 1000
            metric = rng.choice(METRICS)
            if kind == "recent_1h":
                out.append((kind, end - H + 1, end, metric))
            elif kind == "recent_1h_all":
                out.append((kind, end - H + 1, end, None))
            elif kind == "old_24h":
                lo = spec.start_ms + rng.randrange(0, 24) * H + rng.randrange(0, 3600) * 1000
                out.append((kind, lo, lo + 24 * H - 1, metric))
            else:
                lo = spec.end_ms + rng.randrange(1, 1000) * H
                out.append((kind, lo, lo + H - 1, metric))
    return out


def closed_loop(run, store, reqs, expected, seconds: float, seed: int, tracer=None,
                group: str | None = None):
    """4 client threads for ``seconds``; returns per-request latencies in
    seconds (``inf`` for a failed or wrong answer), rows returned and the
    loop's wall time.  With ``group``, every request's jobs go to that
    job group; with ``tracer``, every request gets a request id."""
    from time_series_databse_engine_spark import api

    lat: list[float] = []
    rows: list[int] = []
    lock = threading.Lock()
    deadline = time.perf_counter() + seconds
    errors: list[BaseException] = []

    def client(k: int) -> None:
        # each client walks its own seeded permutation of the templates,
        # so every client sends the mix in its exact proportions
        order = list(range(len(reqs)))
        random.Random(seed * 1000 + k).shuffle(order)
        sc = store.spark.sparkContext
        try:
            n = 0
            while time.perf_counter() < deadline:
                t = order[n % len(order)]
                n += 1
                kind, lo, hi, metric = reqs[t]
                if group is not None:
                    sc.setJobGroup(group, group)
                t0 = time.perf_counter()
                try:
                    if tracer is None:
                        resp = api.query_points(store, lo, hi, metric, LIMIT)
                    else:
                        with tracer.request():
                            resp = api.query_points(store, lo, hi, metric, LIMIT)
                    dt = time.perf_counter() - t0
                    bad = check_points(resp["points"], expected[t], lo, hi)
                except Exception as e:  # a failed request is counted, not fatal
                    dt, bad, resp = time.perf_counter() - t0, f"{type(e).__name__}: {e}", None
                with lock:
                    ok = run.check(bad is None, f"{kind} [{lo}, {hi}] {metric}: {bad}")
                    lat.append(dt if ok else float("inf"))
                    rows.append(len(resp["points"]) if resp else 0)
        except BaseException as e:
            errors.append(e)

    threads = [threading.Thread(target=client, args=(k,)) for k in range(CLIENTS)]
    t0 = time.perf_counter()
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    wall = time.perf_counter() - t0
    if errors:
        raise errors[0]
    return lat, rows, wall


def main(run) -> None:
    from time_series_databse_engine_spark import TimeSeriesStore, api

    spark, start_s = harness.start_session(run, layers.TRACE_CONF if run.trace else None)
    rng = random.Random(run.seed)
    spec = PointSpec.from_seed(rng, START_MS, N_PER_METRIC, METRICS)

    builds = []
    for b in range(BUILDS):
        store = TimeSeriesStore(spark, f"{run.work}/store{b}")
        builds.append(harness.timed(store.ingest, points_df(spark, spec))[0])
    build_s = statistics.median(builds)
    run.mark("builds")

    reqs = templates(rng, spec)
    expected = [spec.expected(lo, hi, m, LIMIT) for _, lo, hi, m in reqs]
    run.mark("expected")
    # warm-up: one request of each kind on the final store, outside the loop
    t0 = time.perf_counter()
    for kind in ("recent_1h", "recent_1h_all", "old_24h", "empty"):
        t = next((t for t, r in enumerate(reqs) if r[0] == kind), None)
        if t is not None:
            _, lo, hi, m = reqs[t]
            bad = check_points(api.query_points(store, lo, hi, m, LIMIT)["points"],
                               expected[t], lo, hi)
            run.check(bad is None, f"warm-up {kind}: {bad}")
    warmup_s = time.perf_counter() - t0
    setup_s = start_s + build_s + warmup_s
    run.mark("warmup")

    if not run.trace:
        cpu0 = harness.tree_cpu_s()
        lat, rows, wall = closed_loop(run, store, reqs, expected, run.seconds, run.seed)
        cpu_s = harness.tree_cpu_s() - cpu0
        run.mark("loop")
        p50 = harness.percentile(lat, 50) * 1e3
        done = sum(1 for x in lat if x != float("inf"))
        p90 = harness.percentile(lat, 90) * 1e3
        named = {
            "query_p50_ms": (p50, "ms"),
            "query_p90_ms": (p90, "ms"),
            "query_samples": (len(lat), "count"),
            "query_qps": (done / wall, "1/s"),
            "bulk_ingest_pts_per_s": (spec.n * len(METRICS) / build_s, "pts/s"),
            "setup_s": (setup_s, "s"),
        }
        if len(lat) >= 1000:
            named["query_p99_ms"] = (harness.percentile(lat, 99) * 1e3, "ms")
        metrics = {
            "setup_s": (setup_s, "s"),
            "p50_ms": (p50, "ms"),
            "ops_per_s": (done / wall, "1/s"),
            "cpu_ms_per_op": (cpu_s * 1e3 / len(lat), "ms"),
            "peak_rss_mb": (harness.peak_rss_mb(spark), "MB"),
        }
        harness.emit(run, metrics, {"named": named, "builds_s": builds})
        return

    # traced run: untraced and traced quarters of the loop alternate, so
    # warming over the run does not read as tracing cost
    from perfbench.tracing import SparkStatus, Tracer

    tracer = Tracer()
    plain: list[float] = []
    traced: list[float] = []
    rows: list[int] = []
    for q in range(4):
        if q % 2:
            layers.instrument_api(tracer)
        try:
            lat, r, _ = closed_loop(run, store, reqs, expected, run.seconds / 4, run.seed + q,
                                    tracer if q % 2 else None, "rr:query" if q % 2 else "rr-plain")
        finally:
            tracer.unwrap()
        (traced if q % 2 else plain).extend(lat)
        if q % 2:
            rows.extend(r)
    vals = layers.query_layers(tracer)
    vals["api.rows_returned"] = sum(rows) / max(len(rows), 1)
    vals.update(layers.spark_query_layers(SparkStatus(spark), "rr:query", len(traced)))
    vals["session.start_s"] = start_s
    vals["session.warmup_s"] = warmup_s
    vals["tracing.overhead_frac"] = statistics.median(traced) / statistics.median(plain) - 1.0
    metrics = layers.finish(tracer, run, vals, f"{harness.WORK_ROOT}/spans-range_read-seed{run.seed}.json")
    harness.emit(run, metrics, {"named": metrics})
