"""Exactly-once epoch commit under injected crashes: both protocols of
``epoch_commit`` at each crash point, then a streaming leg restarted from
its checkpoint after a crash in the middle of its publish."""

import os

import pytest
from pyspark.sql import functions as F

from time_series_databse_engine_spark.epoch_commit import EpochDirs, prefix_append


class Crash(RuntimeError):
    """The simulated process death."""


def _crash_rename_after(monkeypatch, root: str, k: int) -> None:
    """Make ``os.rename`` of a path under ``root`` raise :class:`Crash`
    once ``k`` such renames have succeeded; later calls succeed again,
    as they would in the restarted process."""
    real = os.rename
    seen = {"n": 0}

    def rename(src, dst, *args, **kwargs):
        if str(src).startswith(root):
            seen["n"] += 1
            if seen["n"] == k + 1:
                raise Crash(f"simulated crash after {k} renames")
        return real(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "rename", rename)


def _rows(spark, eid: int):
    # 3 partition values x 10 rows, distinct per epoch
    return spark.range(30).select(
        (F.col("id") % 3).alias("p"), (F.col("id") + 100 * eid).alias("v")
    )


def _prefix_epoch(spark, root: str, eid: int, crash_in_write: bool = False):
    table = os.path.join(root, "table")
    with prefix_append(table, f"{table}.epoch-{eid}-tmp", eid, "p=*") as tmp:
        # one file per partition value: 3 moves per epoch
        _rows(spark, eid).repartition(1).write.mode("overwrite").partitionBy(
            "p"
        ).parquet(tmp)
        if crash_in_write:
            raise Crash("simulated crash during the staged write")


def _prefix_state(spark, root: str):
    rows = spark.read.parquet(os.path.join(root, "table")).select("p", "v")
    return sorted(tuple(r) for r in rows.collect())


def _dirs_epoch(spark, root: str, eid: int, crash_in_write: bool = False):
    # a running-total writer, the shape of the streaming monitors
    with EpochDirs(root, eid) as ep:
        fresh = spark.read.parquet(ep.stage("counts", _rows(spark, eid)))
        if crash_in_write:
            raise Crash("simulated crash during the staged write")
        prior = ep.prior("counts")
        running = fresh.unionByName(spark.read.parquet(*prior)) if prior else fresh
        total = running.agg(F.sum("v")).first()[0]
        ep.stage(
            "metrics",
            spark.createDataFrame([(eid, total)], "epoch_id int, total long"),
        )


def _dirs_state(spark, root: str):
    return {
        name: sorted(
            tuple(r) for r in spark.read.parquet(os.path.join(root, name)).collect()
        )
        for name in ("counts", "metrics")
    }


PROTOCOLS = {
    "prefix_append": (_prefix_epoch, _prefix_state),
    "epoch_dirs": (_dirs_epoch, _dirs_state),
}


@pytest.mark.parametrize("crash", ["staged_write", "mid_publish", "before_commit"])
@pytest.mark.parametrize("protocol", sorted(PROTOCOLS))
def test_replayed_epoch_converges_to_one_copy(
    spark, tmp_path, monkeypatch, protocol, crash
):
    """Epochs 0-1 commit, epoch 2 crashes at ``crash``; replaying it (and,
    for a crash after the publish, the lost checkpoint's epochs 1-2)
    leaves exactly the rows of an uninterrupted run."""
    run, state = PROTOCOLS[protocol]
    clean = str(tmp_path / "clean")
    for eid in range(3):
        run(spark, clean, eid)
    want = state(spark, clean)

    root = str(tmp_path / "crashed")
    for eid in range(2):
        run(spark, root, eid)
    if crash == "staged_write":
        with pytest.raises(Crash):
            run(spark, root, 2, crash_in_write=True)
        replay = [2]
    elif crash == "mid_publish":
        _crash_rename_after(monkeypatch, root, k=1)
        with pytest.raises(Crash):
            run(spark, root, 2)
        assert state(spark, root) != want  # part of epoch 2 is visible
        replay = [2]
    else:
        run(spark, root, 2)  # published; the checkpoint commit never lands
        assert state(spark, root) == want
        replay = [1, 2]  # later epochs' output exists while 1 replays
    for eid in replay:
        run(spark, root, eid)
    assert state(spark, root) == want


def test_stream_burn_rate_restart_after_crash_mid_publish(
    spark, tmp_path, monkeypatch
):
    """``stream_burn_rate`` dies inside ``foreachBatch`` between epoch 1's
    two renames; the restart from its checkpoint replays epoch 1, and
    ``counts``/``metrics`` equal an uninterrupted run's."""
    from time_series_databse_engine_spark.streaming.ingest import (
        last_committed_epoch,
        stream_burn_rate,
    )

    B = 3_600_000
    src = str(tmp_path / "src")
    for name, err, hours in (("b1", False, range(6)), ("b2", True, range(6, 12))):
        spark.createDataFrame(
            [(h * B + i, err) for h in hours for i in range(10)],
            "ts_ms long, is_err boolean",
        ).coalesce(1).write.parquet(f"{src}/{name}")

    def run(out: str, ckpt: str) -> None:
        stream = (
            spark.readStream.schema("ts_ms long, is_err boolean")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        q = stream_burn_rate(stream, out, ckpt).start()
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    clean = str(tmp_path / "clean")
    run(clean, str(tmp_path / "ckpt_clean"))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    # epoch 0 renames counts + metrics; the third rename is epoch 1's counts
    _crash_rename_after(monkeypatch, out, k=3)
    with pytest.raises(Exception, match="simulated crash"):
        run(out, ckpt)
    assert last_committed_epoch(ckpt) == 0
    assert os.path.isdir(os.path.join(out, "counts", "epoch=1"))
    assert not os.path.isdir(os.path.join(out, "metrics", "epoch=1"))

    run(out, ckpt)
    assert last_committed_epoch(ckpt) == 1
    assert _dirs_state(spark, out) == _dirs_state(spark, clean)
