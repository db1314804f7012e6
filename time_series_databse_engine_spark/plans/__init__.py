"""Plan-inspection utilities: programmatic checks that a DataFrame compiled
to the physical plan we want (broadcast where intended, filters pushed to
the scan, partitions pruned).  Used by tests and perf audits — the 100 TB
posture is only real if the plan proves it.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def has_cartesian_product(df: DataFrame) -> bool:
    """True when the plan contains an un-broadcast cross product — almost
    always a bug at scale."""
    return "CartesianProduct" in formatted_plan(df)


def pushed_filters(df: DataFrame) -> list[str]:
    """Predicates that reached the Parquet scan (row-group pruning)."""
    out = []
    for line in formatted_plan(df).splitlines():
        line = line.strip()
        if line.startswith("PushedFilters:"):
            body = line.split(":", 1)[1].strip().strip("[]")
            if body:
                out.extend(p.strip() for p in body.split(","))
    return out


def partition_filters(df: DataFrame) -> list[str]:
    """Predicates applied at partition-pruning time (directory-level)."""
    out = []
    for line in formatted_plan(df).splitlines():
        line = line.strip()
        if line.startswith("PartitionFilters:"):
            body = line.split(":", 1)[1].strip().strip("[]")
            if body:
                out.extend(p.strip() for p in body.split(","))
    return out


def simple_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def num_shuffles(df: DataFrame) -> int:
    """Count of exchange operators — the scale-limiting resource.
    Uses the simple plan string (formatted mode lists every node twice)."""
    return simple_plan(df).count("Exchange")


def num_shuffle_exchanges(df: DataFrame) -> int:
    """Shuffle exchanges only — excludes BroadcastExchange (cheap dim-side
    move) and ReusedExchange (free)."""
    import re

    return len(re.findall(r"\bExchange (hash|range|rounds|SinglePartition)", simple_plan(df)))
