"""Versioned-table sink: time travel, snapshot isolation, compaction and
vacuum semantics on bare parquet (sinks/versioned.py)."""

from __future__ import annotations

from pathlib import Path

from nqs_console_flink_window_spark.sinks import versioned as V


def _df(spark, lo: int, hi: int):
    return spark.range(lo, hi).withColumnRenamed("id", "k")


def test_commit_append_overwrite_and_time_travel(spark, tmp_path) -> None:
    t = str(tmp_path / "tbl")
    v0 = V.commit_version(_df(spark, 0, 10), t)
    v1 = V.commit_version(_df(spark, 10, 15), t)  # append
    v2 = V.commit_version(_df(spark, 100, 102), t, mode="overwrite")
    assert (v0, v1, v2) == (0, 1, 2)

    assert V.read_version(spark, t, 0).count() == 10
    assert V.read_version(spark, t, 1).count() == 15
    assert V.read_version(spark, t, 2).count() == 2
    assert V.read_version(spark, t).count() == 2  # latest
    assert {r.k for r in V.read_version(spark, t, 2).collect()} == {100, 101}
    # history intact after the overwrite: v1 still reads its 15 rows
    assert {r.k for r in V.read_version(spark, t, 1).collect()} == set(range(15))

    log = V.versions(t)
    assert [m["version"] for m in log] == [0, 1, 2]
    assert [m["mode"] for m in log] == ["append", "append", "overwrite"]
    assert log[1]["parent"] == 0


def test_snapshot_isolation_under_concurrent_commit(spark, tmp_path) -> None:
    """A reader's pinned DataFrame keeps its results across later commits,
    including an overwrite — files of old versions are never mutated."""
    t = str(tmp_path / "tbl")
    V.commit_version(_df(spark, 0, 20), t)
    pinned = V.read_version(spark, t, 0)
    V.commit_version(_df(spark, 0, 3), t, mode="overwrite")
    assert pinned.count() == 20  # still the v0 snapshot
    assert V.read_version(spark, t).count() == 3


def test_compact_then_vacuum_keeps_live_data(spark, tmp_path) -> None:
    t = str(tmp_path / "tbl")
    V.commit_version(_df(spark, 0, 10).repartition(6), t)
    V.commit_version(_df(spark, 10, 20).repartition(6), t)
    before = V.versions(t)[-1]["n_files"]
    assert before > 2
    v = V.compact_version(spark, t, target_files=1)
    assert V.versions(t)[-1]["n_files"] == 1
    assert V.read_version(spark, t, v).count() == 20

    deleted = V.vacuum(t, keep_versions=1)
    assert deleted  # the pre-compaction chunks are gone
    assert V.read_version(spark, t).count() == 20  # latest unharmed
    # only the kept manifest remains, and every referenced file exists
    assert [m["version"] for m in V.versions(t)] == [v]
    for f in V._load_manifest(t, v)["files"]:
        assert (Path(t) / f).is_file()


def test_version_race_retries_to_next_number(spark, tmp_path) -> None:
    """Losing the exclusive manifest publish race must retry with the next version
    number and fold the winner's files in (append semantics)."""
    t = str(tmp_path / "tbl")
    V.commit_version(_df(spark, 0, 5), t)
    # simulate a racing winner: pre-claim v1 manually with v0's contents
    m0 = V._load_manifest(t, 0)
    V._manifest_path(t, 1).write_text(
        __import__("json").dumps({**m0, "version": 1, "parent": 0})
    )
    v = V.commit_version(_df(spark, 5, 9), t)  # should land as v2
    assert v == 2
    assert V.read_version(spark, t, 2).count() == 9


def test_commit_crash_after_version_claim_keeps_table_readable(
    spark, tmp_path, monkeypatch
) -> None:
    """A commit that dies right after it opens its manifest file for the
    chosen version number must not publish an empty manifest: the table
    still reads as the previous version, the log still parses, and the
    next commit lands on top of it."""
    import os

    import pytest

    t = str(tmp_path / "tbl")
    V.commit_version(_df(spark, 0, 5), t)
    real_open = os.open

    def open_then_crash(path, *a, **kw):
        fd = real_open(path, *a, **kw)
        if "_manifests" in str(path):
            os.close(fd)
            raise RuntimeError("crash after the version was chosen")
        return fd

    with monkeypatch.context() as mp:
        mp.setattr(V.os, "open", open_then_crash)
        with pytest.raises(RuntimeError, match="version was chosen"):
            V.commit_version(_df(spark, 5, 9), t)
    assert V.latest_version(t) == 0
    assert V.read_version(spark, t).count() == 5
    assert [m["version"] for m in V.versions(t)] == [0]
    assert V.commit_version(_df(spark, 5, 9), t) == 1
    assert V.read_version(spark, t).count() == 9


def test_empty_commit_reads_back_empty_with_schema(spark, tmp_path) -> None:
    t = str(tmp_path / "tbl")
    V.commit_version(_df(spark, 0, 0), t)
    out = V.read_version(spark, t, 0)
    assert out.count() == 0
    assert out.columns == ["k"]


def test_run_cdc_stream_matches_sequential_apply(spark, tmp_path) -> None:
    """Two micro-batches of a changelog streamed through run_cdc_stream end
    in the same state as applying the ops sequentially by hand, and every
    intermediate version stays time-travel readable."""
    import datetime as dt

    from nqs_console_flink_window_spark.streaming.jobs import run_cdc_stream

    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    cp = str(tmp_path / "cp")
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"

    def t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    b1 = [
        (1, t(1), 10, "signup", 1.0),
        (2, t(2), 10, "click", 2.0),   # LWW within batch -> value 2.0
        (3, t(3), 20, "signup", 3.0),
        (4, t(4), 30, "signup", 4.0),
    ]
    spark.createDataFrame(b1, schema).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    run_cdc_stream(spark, stream, tbl, cp)

    from nqs_console_flink_window_spark.sinks import versioned as V

    s1 = {r.user_id: r.value for r in V.read_version(spark, tbl).collect()}
    assert s1 == {10: 2.0, 20: 3.0, 30: 4.0}

    b2 = [
        (5, t(5), 20, "error", 0.0),   # delete 20
        (6, t(6), 30, "click", 9.0),   # update 30
        (7, t(7), 40, "signup", 7.0),  # insert 40
    ]
    spark.createDataFrame(b2, schema).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    run_cdc_stream(spark, stream2, tbl, cp)

    s2 = {r.user_id: r.value for r in V.read_version(spark, tbl).collect()}
    assert s2 == {10: 2.0, 30: 9.0, 40: 7.0}
    # time travel: the pre-batch-2 state is still readable
    versions = [m["version"] for m in V.versions(tbl)]
    prev = {r.user_id: r.value for r in V.read_version(spark, tbl, versions[-2]).collect()}
    assert prev == s1
