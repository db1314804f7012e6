"""Seeded inputs.  The package only ever sees what these functions make.

* ``points_df`` turns a :class:`verify.PointSpec` into a Spark DataFrame
  of ``(metric, ts_ms, value)`` rows whose values follow the closed form
  exactly (integer arithmetic, one exact division), so every range answer
  can be checked point by point.
* ``write_tables`` writes the analytics tables (``events``, ``documents``,
  ``lineitem``, ``part``) as Parquet with the shapes of the repository's
  test tables at sf0.01: 10,000 events over January 2024, 500 documents
  from a 30-word vocabulary with 25 near-duplicates, 15,000 orders of one
  to seven lines over 2,000 parts.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

from perfbench.verify import PointSpec


def points_df(spark, spec: PointSpec, first: int = 0, last: int | None = None):
    """Rows ``first <= i < last`` of every metric in ``spec``."""
    from pyspark.sql import functions as F

    last = spec.n if last is None else last
    m = len(spec.names)
    names = F.array(*[F.lit(x) for x in spec.names])
    return (
        spark.range(first * m, last * m)
        .select((F.col("id") % m).alias("m"), F.floor(F.col("id") / m).alias("i"))
        .select(
            F.element_at(names, (F.col("m") + 1).cast("int")).alias("metric"),
            (F.lit(spec.start_ms) + F.col("i") * spec.step_ms).alias("ts_ms"),
            ((F.col("i") * spec.a + F.col("m") * spec.b + spec.c) % 100_003 / 100.0).alias("value"),
        )
    )


def api_points(spec: PointSpec, m: int, first: int, last: int) -> list[dict]:
    """Points ``first <= i < last`` of metric ``m`` in the API's shape."""
    name = spec.names[m]
    return [
        {"metric": name, "timestamp": spec.start_ms + i * spec.step_ms, "value": spec.value(m, i)}
        for i in range(first, last)
    ]


VOCAB = ("a agg batch big column customer data fast filter group hash join key line merge "
         "order part query row scan slow small sort spark stream table the value vector "
         "window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
PART_WORDS = (["blue", "hot", "small", "old", "cold", "red", "new"],
              ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate"])
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]


def write_tables(out_dir: str, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    # events: one stream over 2024-01-01 .. 2024-01-31, ids in time order
    n = 10_000
    t0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    ts_us = np.sort(rng.integers(t0, t0 + 30 * 86_400_000_000, n))
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    put("events", {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": pa.array(rng.choice(["click", "view", "purchase", "signup", "error"], n)),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })

    # documents: random word strings of a fixed multiset of lengths; 25
    # originals each reappear once with " dup" appended, so the
    # near-duplicate graph has the same shape at every seed
    lengths = rng.permutation(np.linspace(10, 99, 500).astype(int))
    texts = [" ".join(rng.choice(VOCAB, int(k))) for k in lengths]
    copies = rng.choice(np.arange(250, 500), 25, replace=False)
    originals = rng.choice(np.arange(0, 250), 25, replace=False)
    for c, o in zip(copies, originals):
        texts[c] = texts[o] + " dup"
    put("documents", {
        "doc_id": pa.array(np.arange(500), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, 500, p=[0.44, 0.14, 0.14, 0.14, 0.14])),
        "source": pa.array([f"src{i % 20}" for i in range(500)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    # part + lineitem (TPC-H-like baskets of 1-7 lines per order)
    n_part, n_orders = 2_000, 15_000
    adj = rng.choice(PART_WORDS[0], n_part)
    noun = rng.choice(PART_WORDS[1], n_part)
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(P_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)),
    })
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    m = len(okey)
    qty = rng.integers(1, 51, m).astype(np.float64)
    ship0 = int(dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    put("lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, m), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, m), 2)),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], m)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], m)),
        "l_shipdate": pa.array(ship0 + rng.integers(0, 2500, m) * 86_400_000_000,
                               pa.timestamp("us")),
    })
