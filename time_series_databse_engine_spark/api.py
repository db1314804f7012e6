"""HTTP façade with the reference's endpoint shapes (api/main.py:47-102),
backed by the Spark engine.

Endpoint parity:
  * ``POST /api/ingest`` accepts one ``{metric, timestamp, value}`` point
    and returns ``{"status": "success", "points_ingested": N}`` (reference
    api/main.py:67-73).  Divergences done on purpose: ``metric`` is kept
    (the reference drops it, api/main.py:70), and the in-process
    ``ingest_points`` takes a whole batch of points in one write —
    per-point synchronous writes are the reference's documented
    bottleneck (README.md:102).
  * ``GET /api/query?start_ts&end_ts[&metric]`` returns
    ``{"metric": ..., "points": [{"timestamp": ms, "value": v}, ...]}``
    with the same inclusive bounds and the same fixed 10,000-point cap
    (api/main.py:85-102; the route takes no limit parameter, only the
    in-process ``query_points`` does); ``metric`` echoes the queried
    series instead of the reference's hard-coded ``"cpu.load.avg"``.

Point batches cross the Python–JVM boundary as Arrow in both directions:
``ingest_points`` hands Spark one ``pyarrow.Table`` (a ``LocalRelation``,
no pickled rows to decode in the write job), and ``query_points`` reads
the result back with ``toArrow()`` and builds the point dicts from its
columns instead of un-pickling one ``Row`` per point.

FastAPI is optional in this container: the handler logic lives in plain
functions (`ingest_points`, `query_points`) so it is fully testable
in-process; ``create_app()`` wires them to routes only when fastapi is
importable.
"""

from __future__ import annotations

from typing import Any

import pyarrow as pa
from pyspark.sql import SparkSession

from time_series_databse_engine_spark.tsdb import TimeSeriesStore

BUFFER_CAPACITY = 10_000  # reference api/main.py:85


def ingest_points(store: TimeSeriesStore, points: list[dict[str, Any]]) -> dict[str, Any]:
    """Batch ingest; each point is {metric, timestamp(ms), value}."""
    table = pa.table(
        {
            "metric": pa.array([str(p["metric"]) for p in points], pa.string()),
            "ts_ms": pa.array([int(p["timestamp"]) for p in points], pa.int64()),
            "value": pa.array([float(p["value"]) for p in points], pa.float64()),
        }
    )
    df = store.spark.createDataFrame(table)
    store.ingest(df)
    return {"status": "success", "points_ingested": len(points)}


def query_points(
    store: TimeSeriesStore,
    start_ts: int,
    end_ts: int,
    metric: str | None = None,
    limit: int = BUFFER_CAPACITY,
) -> dict[str, Any]:
    """Inclusive range query capped at ``limit`` points (reference cap:
    10,000 with silent truncation — here truncation is still silent but
    deterministic: first ``limit`` points in ts order)."""
    df = store.query_range(
        start_ts, end_ts, metrics=[metric] if metric else None, limit=limit
    )
    table = df.select("metric", "ts_ms", "value").toArrow()
    if not metric:
        metric = table.column("metric")[0].as_py() if table.num_rows else "cpu.load.avg"
    return {
        "metric": metric,
        "points": [
            {"timestamp": t, "value": v}
            for t, v in zip(table.column("ts_ms").to_pylist(), table.column("value").to_pylist())
        ],
    }


def create_app(spark: SparkSession, data_path: str):
    """Build the FastAPI app if fastapi is available (optional dep)."""
    try:
        from fastapi import FastAPI, HTTPException, Query
        from pydantic import BaseModel, Field
    except ImportError as e:  # pragma: no cover - container has no fastapi
        raise ImportError("fastapi/pydantic not installed; use the in-process functions") from e

    store = TimeSeriesStore(spark, data_path)
    app = FastAPI(title="time_series_databse_engine_spark", version="1.0.0")

    class IngestRequest(BaseModel):
        metric: str = Field(..., examples=["cpu.load.avg"])
        timestamp: int = Field(..., examples=[1664632800000])
        value: float = Field(..., examples=[42.5])

    @app.post("/api/ingest")
    def ingest(point: IngestRequest):
        try:
            return ingest_points(store, [point.model_dump()])
        except Exception as e:  # pragma: no cover
            raise HTTPException(status_code=500, detail=f"engine error: {e}")

    @app.get("/api/query")
    def query(
        start_ts: int = Query(...),
        end_ts: int = Query(...),
        metric: str | None = Query(None),
    ):
        return query_points(store, start_ts, end_ts, metric)

    return app
