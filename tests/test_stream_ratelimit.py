"""Streaming admission control for the versioned source: absolute
endVersion bound, drain_backlog bounded-run orchestration, and the
maxVersionsPerBatch steady-state clamp."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from argodb_mapreduce_spark.sources.python_datasource import (
    FORMAT_NAME,
    _checkpoint_committed_version,
    drain_backlog,
    make_versioned_datasource,
    register_datasource,
    read_versioned,
)
from argodb_mapreduce_spark.sources.versioned import versioned_write
from tests.conftest import pyds_units


def _appends(spark, path, n, rows=10):
    for i in range(n):
        versioned_write(
            spark.range(i * rows, (i + 1) * rows).withColumnRenamed("id", "k"),
            path,
            "append",
        )


def _reader(path, **kw):
    """Build a VersionedStreamReader directly (unit-level: the runner
    process would hold exactly one such instance per query run)."""
    ds_cls = make_versioned_datasource()
    ds = ds_cls({"path": path, **{k: str(v) for k, v in kw.items()}})
    return ds.streamReader(ds.schema())


def test_end_version_clamps_latest_offset(spark, tmp_path):
    p = str(tmp_path / "t")
    _appends(spark, p, 5)
    r = _reader(p, endVersion=2)
    assert r.latestOffset() == {"version": 2}
    parts = pyds_units(r.partitions({"version": -1}, {"version": 2}))
    import os

    segs = {os.path.basename(os.path.dirname(pt.path)) for pt in parts}
    assert segs == {"data-0", "data-1", "data-2"}  # nothing past endVersion


def test_stale_end_version_fails_stop_not_silent(spark, tmp_path):
    p = str(tmp_path / "t")
    _appends(spark, p, 5)
    r = _reader(p, endVersion=1)
    # checkpoint already consumed through v3; endVersion=1 would regress
    with pytest.raises(ValueError, match="already consumed through"):
        r.partitions({"version": 3}, {"version": 1})


def test_max_versions_clamps_after_floor_known(spark, tmp_path):
    p = str(tmp_path / "t")
    _appends(spark, p, 9)
    r = _reader(p, maxVersionsPerBatch=2)
    # engine calls latestOffset before initialOffset: first batch is
    # unclamped (documented best-effort)
    assert r.latestOffset() == {"version": 8}
    # fresh query: initialOffset establishes the floor
    r2 = _reader(p, maxVersionsPerBatch=2)
    assert r2.initialOffset() == {"version": -1}
    assert r2.latestOffset() == {"version": 1}
    r2.partitions({"version": -1}, {"version": 1})
    assert r2.latestOffset() == {"version": 3}
    r2.partitions({"version": 1}, {"version": 3})
    r2.commit({"version": 3})
    assert r2.latestOffset() == {"version": 5}
    # head reached: stops at 8, never beyond
    r2.partitions({"version": 3}, {"version": 5})
    assert r2.latestOffset() == {"version": 7}
    r2.partitions({"version": 5}, {"version": 7})
    assert r2.latestOffset() == {"version": 8}
    assert r2.latestOffset() == {"version": 8}  # no data: no advance


def test_max_versions_rejects_nonpositive(spark, tmp_path):
    p = str(tmp_path / "t")
    _appends(spark, p, 1)
    with pytest.raises(ValueError, match="maxVersionsPerBatch"):
        _reader(p, maxVersionsPerBatch=0)


def test_replayed_batch_restores_floor(spark, tmp_path):
    """Restart with an uncommitted planned batch: partitions(start, end)
    replays first and must establish the clamp floor at end."""
    p = str(tmp_path / "t")
    _appends(spark, p, 9)
    r = _reader(p, maxVersionsPerBatch=3)
    r.partitions({"version": 2}, {"version": 4})  # replayed WAL batch
    assert r.latestOffset() == {"version": 7}  # 4 + 3


def test_drain_backlog_bounded_runs_exactly_once(spark, tmp_path):
    register_datasource(spark)
    p = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    _appends(spark, p, 7)

    def conf(s):
        return (
            s.writeStream.format("parquet").option("path", out).outputMode("append")
        )

    res = drain_backlog(spark, p, ck, conf, max_versions_per_run=3)
    assert res == {"runs": 3, "from_version": -1, "to_version": 6}
    sunk = spark.read.parquet(out)
    assert sunk.count() == 70 and sunk.distinct().count() == 70
    # resume after two more appends: continues from the checkpoint
    _appends_more = spark.range(70, 90).withColumnRenamed("id", "k")
    versioned_write(_appends_more.filter(F.col("k") < 80), p, "append")
    versioned_write(_appends_more.filter(F.col("k") >= 80), p, "append")
    res2 = drain_backlog(spark, p, ck, conf, max_versions_per_run=3)
    assert res2 == {"runs": 1, "from_version": 6, "to_version": 8}
    sunk = spark.read.parquet(out)
    assert sunk.count() == 90 and sunk.distinct().count() == 90
    # fully drained: a third call is a no-op
    res3 = drain_backlog(spark, p, ck, conf, max_versions_per_run=3)
    assert res3["runs"] == 0
    assert _checkpoint_committed_version(ck) == 8


def test_checkpoint_committed_version_fresh_is_none(tmp_path):
    assert _checkpoint_committed_version(str(tmp_path / "nope")) is None


def test_end_version_pins_stream_below_head(spark, tmp_path):
    """A real availableNow run with endVersion consumes exactly the
    bounded prefix; a later unbounded run picks up the remainder."""
    register_datasource(spark)
    p = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    _appends(spark, p, 5)

    def run(end=None):
        r = spark.readStream.format(FORMAT_NAME)
        if end is not None:
            r = r.option("endVersion", str(end))
        q = (
            r.load(p)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(end=1)
    assert spark.read.parquet(out).count() == 20  # versions 0..1 only
    run()
    sunk = spark.read.parquet(out)
    assert sunk.count() == 50 and sunk.distinct().count() == 50


def test_starting_version_skips_history(spark, tmp_path):
    register_datasource(spark)
    p = str(tmp_path / "sv")
    out = str(tmp_path / "sv_out")
    ck = str(tmp_path / "sv_ck")
    _appends(spark, p, 5)  # versions 0..4, keys 0..49
    q = (
        spark.readStream.format(FORMAT_NAME)
        .option("startingVersion", "3")
        .load(p)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r.k for r in spark.read.parquet(out).collect())
    assert got == list(range(30, 50))  # versions 3 and 4 only, 3 INCLUDED


def test_starting_version_unit_semantics(spark, tmp_path):
    p = str(tmp_path / "svu")
    _appends(spark, p, 4)
    r = _reader(p, startingVersion=2)
    assert r.initialOffset() == {"version": 1}
    parts = pyds_units(r.partitions(r.initialOffset(), r.latestOffset()))
    import os

    segs = {os.path.basename(os.path.dirname(pt.path)) for pt in parts}
    assert segs == {"data-2", "data-3"}
    with pytest.raises(ValueError, match="startingVersion"):
        _reader(p, startingVersion=5, endVersion=2)


def test_rate_limit_composes_with_cdf_over_rewrites(spark, tmp_path):
    """maxVersionsPerBatch + readChangeFeed + a cdc-sidecar UPDATE in
    the history: the clamp bounds version advance while the CDF branch
    plans sidecar partitions — unit-level over the reader."""
    from argodb_mapreduce_spark.sources.versioned import (
        enable_change_data_feed,
        update_where,
    )

    p = str(tmp_path / "rlc")
    _appends(spark, p, 3)  # v0..v2
    enable_change_data_feed(p)
    update_where(spark, p, [("k", "<", 5)], {"k": F.col("k") + 100})  # v3 cdc
    versioned_write(
        spark.range(100, 110).withColumnRenamed("id", "k"), p, "append"
    )  # v4
    r = _reader(p, maxVersionsPerBatch=2, readChangeFeed="true")
    assert r.initialOffset() == {"version": -1}
    assert r.latestOffset() == {"version": 1}
    p1 = pyds_units(r.partitions({"version": -1}, {"version": 1}))
    assert all(pt.kind == "insert" for pt in p1)
    assert r.latestOffset() == {"version": 3}
    p2 = pyds_units(r.partitions({"version": 1}, {"version": 3}))
    kinds = sorted({pt.kind for pt in p2})
    assert kinds == ["cdc", "insert"]  # v2 append + v3 sidecar
    assert r.latestOffset() == {"version": 4}
