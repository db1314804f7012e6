"""Sources & sinks.

The reference has exactly one source and one sink: its hour-shard binary
format (reference engine/shard.cpp).  Here the native table format is
Parquet (columnar, min/max pruning, DELTA_BINARY_PACKED / BYTE_STREAM_SPLIT
encodings give the codec the reference hand-rolled — SURVEY.md §1.5), and
the driver test tables are plain parquet files read with
``spark.read.parquet``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver test table (TESTDATA.md) as a DataFrame.

    ``events.ts`` arrives as parquet TIMESTAMP — either TIMESTAMP(NANOS)
    (Spark reads int64 nanoseconds under
    ``spark.sql.legacy.parquet.nanosAsLong``) or TIMESTAMP(MICROS) (Spark
    reads TimestampType).  Normalize BOTH to the engine's canonical trio:
    ``ts`` TimestampType (µs) plus ``ts_ms``/``ts_ns`` longs for exact
    integer time arithmetic.  Integer ``DIV``/``unix_micros`` keep the math
    in int64 (a double round-trip would lose precision at epoch-nanosecond
    magnitude).  The session timezone is pinned to UTC so naive parquet
    timestamps get the same epoch as DuckDB's ``epoch_ms(ts)`` oracle view.

    Cost: the normalization is a per-row int64 divide inside the scan's
    WholeStageCodegen project — measured ≤5% over a raw scan at sf0.1
    (0.246 s → 0.258 s full-table agg) with ReadSchema still pruned to the
    referenced columns.  It does NOT block column pruning; time-range
    predicates on the derived ``ts_ms`` are evaluated post-scan, so
    range-pruned reads should go through ``TimeSeriesStore.query_range``
    (native int64 ``ts_ms`` storage, row-group min/max pushdown) rather
    than ad-hoc filters over this view.

    Both branches use FLOOR division semantics (round toward −∞, matching
    DuckDB's ``epoch_ms``/``unix_millis``): ``DIV`` truncates toward zero,
    which disagrees with floor on pre-1970 (negative-epoch) nanos, so the
    nanos branch subtracts 1 when the remainder is negative.
    """
    # Defensive: the caller's session may not carry our builder configs
    # (the correctness driver builds its own session).  Both are
    # runtime-settable and required for correct oracle comparison.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = (
                df.withColumnRenamed("ts", "ts_ns")
                .withColumn(
                    "ts_ms",
                    F.expr(
                        "ts_ns DIV 1000000"
                        " - (CASE WHEN ts_ns % 1000000 < 0 THEN 1 ELSE 0 END)"
                    ),
                )
                .withColumn(
                    "ts",
                    F.timestamp_micros(
                        F.expr(
                            "ts_ns DIV 1000"
                            " - (CASE WHEN ts_ns % 1000 < 0 THEN 1 ELSE 0 END)"
                        )
                    ),
                )
            )
        elif ts_type is not None and ts_type.startswith("timestamp"):
            # A vanilla session infers parquet TIMESTAMP(isAdjustedToUTC=
            # false) as TIMESTAMP_NTZ (spark.sql.parquet.inferTimestampNTZ
            # default true); with the session tz pinned to UTC the cast to
            # TimestampType is epoch-preserving and matches DuckDB's
            # epoch_ms(ts) view of the same file.
            if ts_type != "timestamp":
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
            df = df.withColumn("ts_ms", F.unix_millis("ts")).withColumn(
                "ts_ns", F.unix_micros("ts") * F.lit(1000)
            )
    return df


def read_csv(spark: SparkSession, path: str, schema=None, header: bool = True) -> DataFrame:
    """CSV source; pass an explicit schema in production (inference = 2 scans)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines source; explicit schema avoids a full inference pass."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source (native Spark reader — same vectorized scan, predicate
    pushdown, and column pruning guarantees as the parquet path)."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame, path: str, partition_by: tuple[str, ...] = (), mode: str = "append"
) -> None:
    """Partitioned ORC sink — interop with Hive/Trino warehouses where ORC
    is the table format; ZLIB default codec, partition layout identical
    to the parquet sink."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_parquet(df: DataFrame, path: str, partition_by: tuple[str, ...] = (), mode: str = "append") -> None:
    """Partitioned ZSTD parquet sink (the engine's native table layout)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: tuple[str, ...],
    num_buckets: int = 8,
    sort_cols: tuple[str, ...] = (),
) -> None:
    """Hash-bucketed catalog table — the co-located-join layout.

    Two tables bucketed on the same key with the same bucket count join
    WITHOUT a shuffle (no Exchange in the plan): each task zips bucket i of
    both sides.  At 100 TB this is the difference between a fact-fact join
    that moves both tables over the network and one that moves nothing —
    pre-pay the shuffle once at write time, reuse it every join.
    ``sortBy`` additionally pre-sorts buckets so sort-merge join skips its
    sort.  (Bucketing requires ``saveAsTable`` — the bucket spec lives in
    the catalog, not the files.)
    """
    spark = df.sparkSession
    if not spark.catalog.tableExists(table_name):
        # a fresh (in-memory-catalog) session doesn't know tables written
        # by a previous process, but their managed-table directories can
        # survive on disk — saveAsTable then fails with
        # LOCATION_ALREADY_EXISTS because "overwrite" can't drop a table
        # the catalog has never heard of.  Sweep the stale local location,
        # but ONLY if the directory is recognizably a prior Spark
        # parquet-table write (part files / _SUCCESS / dot-temp entries
        # and nothing else) — never an arbitrary directory that happens
        # to share the name.  NOTE: catalog state is per-session, so this
        # sweep assumes single-process ownership of the warehouse dir
        # (the same assumption saveAsTable("overwrite") itself makes).
        import os
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
        if wh.scheme in ("file", ""):
            wh_root = wh.path or wh.netloc
            # resolve db-qualified names the way the session catalog does:
            # db.tbl lives at <warehouse>/<db>.db/<tbl>
            parts = table_name.lower().split(".")
            if len(parts) == 2:
                loc = os.path.join(wh_root, parts[0] + ".db", parts[1])
            else:
                loc = os.path.join(wh_root, parts[-1])
            if os.path.isdir(loc) and all(
                e.startswith(("part-", ".", "_")) for e in os.listdir(loc)
            ):
                shutil.rmtree(loc, ignore_errors=True)
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)
