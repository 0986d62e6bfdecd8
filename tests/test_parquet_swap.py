"""Failure paths of the package's one parquet-directory swap
(``sinks.writers.swap_parquet``), its reader (``read_parquet_target``)
and the atomic small-file write behind the version pointer.

Hadoop ``FileSystem.rename`` reports failure by returning false, so
the injected faults wrap the real filesystem handle and make chosen
renames return false; a failed write must raise and lose no row."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from evidence_images_etl_airflow_spark.sinks import writers


def _snapshot(path: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            out[name] = fh.read()
    return out


def _unreadable_target(spark, path: str) -> dict[str, bytes]:
    """A 1,000-row parquet target whose first file is not parquet."""
    spark.range(1000).selectExpr("CAST(id AS STRING) AS k", "id AS v").repartition(
        4
    ).write.parquet(path)
    with open(os.path.join(path, "part-0.parquet"), "wb") as fh:
        fh.write(b"not parquet at all")
    return _snapshot(path)


def _failing_rename(monkeypatch, fails):
    """Patch ``writers.hadoop_fs`` so ``rename(src, dst)`` returns false
    whenever ``fails(src_name, dst_name)`` holds."""
    real = writers.hadoop_fs

    class Proxy:
        def __init__(self, fs):
            self._fs = fs

        def rename(self, src, dst):
            if fails(src.getName(), dst.getName()):
                return False
            return self._fs.rename(src, dst)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def fake(sess, p):
        hadoop_path, fs = real(sess, p)
        return hadoop_path, Proxy(fs)

    monkeypatch.setattr(writers, "hadoop_fs", fake)


def _staging_into_place(src: str, dst: str) -> bool:
    return "__staging_" in src


def test_merge_into_unreadable_target_raises_and_keeps_files(spark, tmp_path):
    path = str(tmp_path / "t")
    before = _unreadable_target(spark, path)
    batch = spark.createDataFrame([("1", 100), ("5000", 5000)], "k string, v bigint")
    with pytest.raises(Exception):
        writers.merge_into_parquet(spark, batch, path, ["k"])
    assert _snapshot(path) == before


def test_idempotent_append_onto_unreadable_target_raises_appends_nothing(spark, tmp_path):
    path = str(tmp_path / "t")
    before = _unreadable_target(spark, path)
    batch = spark.createDataFrame([("1", 100), ("5000", 5000)], "k string, v bigint")
    with pytest.raises(Exception):
        writers.idempotent_append_parquet(spark, batch, path, ["k"])
    assert _snapshot(path) == before


def test_merge_failed_rename_raises_then_next_call_keeps_old_rows(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "t")
    schema = "k string, v bigint"
    writers.merge_into_parquet(
        spark, spark.createDataFrame([("a", 1), ("b", 2)], schema), path, ["k"]
    )
    _failing_rename(monkeypatch, _staging_into_place)
    with pytest.raises(IOError, match="preserved"):
        writers.merge_into_parquet(
            spark, spark.createDataFrame([("b", 20)], schema), path, ["k"]
        )
    monkeypatch.undo()
    writers.merge_into_parquet(
        spark, spark.createDataFrame([("c", 3)], schema), path, ["k"]
    )
    got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert got == [("a", 1), ("b", 2), ("c", 3)]
    assert sorted(os.listdir(tmp_path)) == ["t"]  # no backup, no staging


def test_failed_pointer_rename_raises_and_keeps_version(spark, tmp_path, monkeypatch):
    """The pointer's temp file vanishes before its rename (the rename
    fails): publishing raises, and readers still resolve the previous
    version, not the staged one."""
    from evidence_images_etl_airflow_spark.sinks import versioned

    table = str(tmp_path / "vt")
    assert versioned.publish(spark, spark.range(3).toDF("id"), table) == 1
    real = writers.hadoop_fs

    class LoseTmp:
        def __init__(self, fs):
            self._fs = fs

        def create(self, p, overwrite):
            out, fs = self._fs.create(p, overwrite), self._fs

            class Stream:
                def write(self, data):
                    out.write(data)

                def close(self):
                    out.close()
                    fs.delete(p, False)

            return Stream()

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def fake(sess, p):
        hadoop_path, fs = real(sess, p)
        return hadoop_path, LoseTmp(fs)

    monkeypatch.setattr(writers, "hadoop_fs", fake)
    with pytest.raises(Exception):
        versioned.publish(spark, spark.range(5).toDF("id"), table)
    monkeypatch.undo()
    assert versioned.current_version(spark, table) == 1
    assert versioned.read_latest(spark, table).count() == 3


def test_rollup_restart_after_failed_swap_equals_clean_run(spark, tmp_path, monkeypatch):
    """A micro-batch whose staging->target rename fails must fail the
    query; rerunning on the same checkpoint replays it against the
    backup, and the rollup equals a clean run's, each (window, key)
    once."""
    from evidence_images_etl_airflow_spark.streaming.file_stream import (
        continuous_rollup_available_now,
    )

    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)
    schema = "ts timestamp, event_type string, value double"
    file1 = [(t0, "view", 1.5), (t0 + dt.timedelta(hours=1), "click", 4.25)]
    file2 = [(t0 + dt.timedelta(minutes=45), "view", 3.0),
             (t0 + dt.timedelta(hours=2), "view", 7.0)]

    def run(name, fail_second):
        src, tgt, ck = (str(tmp_path / f"{name}_{x}") for x in ("src", "tgt", "ck"))
        spark.createDataFrame(file1, schema).write.mode("append").parquet(src)
        continuous_rollup_available_now(spark, src, spark.read.parquet(src).schema, tgt, ck)
        spark.createDataFrame(file2, schema).write.mode("append").parquet(src)
        if fail_second:
            _failing_rename(monkeypatch, _staging_into_place)
            with pytest.raises(Exception):
                continuous_rollup_available_now(
                    spark, src, spark.read.parquet(src).schema, tgt, ck
                )
            monkeypatch.undo()
        continuous_rollup_available_now(spark, src, spark.read.parquet(src).schema, tgt, ck)
        return [
            (r.window_start, r.event_type, r.n_events, r.total_value)
            for r in spark.read.parquet(tgt)
            .orderBy("window_start", "event_type")
            .select("window_start", "event_type", "n_events", "total_value")
            .collect()
        ]

    clean = run("clean", False)
    restarted = run("restarted", True)
    assert restarted == clean
    keys = [(w, k) for w, k, _, _ in restarted]
    assert len(keys) == len(set(keys))
    assert {(w, k): n for w, k, n, _ in clean}[(t0, "view")] == 2
