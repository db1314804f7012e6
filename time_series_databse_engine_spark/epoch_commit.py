"""Exactly-once epoch commit: the one copy of the protocol that every
exactly-once writer in this package uses.

A Structured Streaming ``foreachBatch`` sink receives each micro-batch
with its ``epoch_id``, and the checkpoint marks the epoch committed only
after the sink returns.  A crash anywhere before that commit makes the
restart replay the SAME epoch over the SAME input rows.  A sink is
therefore exactly-once iff replaying an epoch converges to one copy of
its output, whatever a previous attempt left behind.  Both protocols
below key every output by the epoch id, stage it where no reader looks,
and delete the previous attempt's output before moving the new one in.
That covers the three crash points:

* **during the staged write** — nothing is visible yet; the replay
  clears the staging dir and writes it afresh;
* **between the moves of a multi-file or multi-table publish** — part
  of the epoch is visible; the replay deletes all of it and moves in a
  complete set;
* **after the publish, before the checkpoint commit** (the at-least-once
  hole of a blind append) — the replay deletes the complete previous
  copy and moves in an identical one.

Writers that keep running state (a running count, a fingerprint set, a
merged sketch) read it from earlier epochs' published dirs, and those
reads must take STRICTLY-PRIOR epochs only (:meth:`EpochDirs.prior`).
During a replay the epoch's own previous attempt exists, and after a
lost checkpoint so do later epochs' dirs; counting either would make a
replay's output differ from its first run.

Two on-disk layouts:

* **file-prefix append** (:func:`prefix_append`) — for a table many
  epochs share (the time-series store, the persisted ANN and MaxSim
  indexes, the media-decode tables): epoch N's data files land in the
  table's own (partition) dirs under an ``epoch{N}-`` name prefix.
* **epoch dirs** (:class:`EpochDirs`) — for per-epoch state and metrics
  tables: epoch N's ``<name>`` table is the dir ``<out>/<name>/epoch=N``,
  staged under ``<out>/_tmp/epoch-N/<name>``.

These names, and the staging dirs the callers pass in, are an on-disk
contract: ``TimeSeriesStore.vacuum``, ``index_maintenance.vacuum_index``
and ``compact_partitioned``'s replay-aware absorption read them.
"""

from __future__ import annotations

import glob
import os
import shutil
from contextlib import contextmanager


def move_in(tmp: str, table: str, prefix: str = "") -> None:
    """Move every staged ``.parquet`` file under ``tmp`` into the same
    relative dir under ``table``, its name prefixed with ``prefix``."""
    for root, _, files in os.walk(tmp):
        data = [f for f in files if f.endswith(".parquet")]
        if not data:
            continue
        dst = os.path.normpath(os.path.join(table, os.path.relpath(root, tmp)))
        os.makedirs(dst, exist_ok=True)
        for f in data:
            os.rename(os.path.join(root, f), os.path.join(dst, prefix + f))


@contextmanager
def prefix_append(table: str, tmp: str, epoch_id: int, parts: str = ""):
    """Idempotent epoch-keyed append into ``table``.

    Deletes the ``epoch{id}-*`` files of a previous attempt from the
    dirs matching the glob ``parts`` (``"hour_bucket=*"``; empty for an
    unpartitioned table), clears the staging dir ``tmp`` and yields it
    for the caller to write the epoch's output to.  On a clean exit the
    staged files move in under the prefix and ``tmp`` is removed; if the
    body raises, nothing moves.  Cost: the caller's write plus
    O(staged files) driver-side renames."""
    prefix = f"epoch{int(epoch_id)}-"
    for leftover in glob.glob(os.path.join(table, parts, prefix + "*")):
        os.remove(leftover)
    shutil.rmtree(tmp, ignore_errors=True)
    yield tmp
    move_in(tmp, table, prefix)
    shutil.rmtree(tmp, ignore_errors=True)


class EpochDirs:
    """Epoch-dir stage/publish for one micro-batch writing per-epoch
    tables under ``out``::

        with EpochDirs(out, epoch_id) as ep:
            fresh = spark.read.parquet(ep.stage("counts", counts_df))
            prior = ep.prior("counts")
            ...
            ep.stage("metrics", metrics_df)

    Entering clears ``<out>/_tmp/epoch-N``.  A clean exit deletes, then
    renames, every published table into ``<out>/<name>/epoch=N`` in
    publish order, and removes the staging dir; if the body raises,
    nothing is published."""

    def __init__(self, out: str, epoch_id: int):
        self.out = out
        self.eid = int(epoch_id)
        self.tmp = os.path.join(out, "_tmp", f"epoch-{self.eid}")
        self._names: list[str] = []

    def __enter__(self) -> "EpochDirs":
        shutil.rmtree(self.tmp, ignore_errors=True)
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is not None:
            return
        for name in self._names:
            dst = os.path.join(self.out, name, f"epoch={self.eid}")
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.rmtree(dst, ignore_errors=True)
            os.rename(os.path.join(self.tmp, name), dst)
        shutil.rmtree(self.tmp, ignore_errors=True)

    def stage(self, name: str, df) -> str:
        """Write ``df`` as this epoch's ``name`` table and publish it on
        exit; returns the staged path (read it back to reuse the rows)."""
        path = os.path.join(self.tmp, name)
        df.write.mode("overwrite").parquet(path)
        self.publish(name)
        return path

    def publish(self, name: str) -> None:
        """Publish ``<tmp>/<name>``, written by the caller, on exit."""
        self._names.append(name)

    def prior(self, name: str) -> list[str]:
        """The strictly-prior ``<out>/<name>/epoch=*`` dirs."""
        return [
            d
            for d in glob.glob(os.path.join(self.out, name, "epoch=*"))
            if int(d.rsplit("=", 1)[1]) < self.eid
        ]
