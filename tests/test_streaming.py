"""Batch/stream parity for the three topologies (the unified-API guarantee)
plus native watermarked streaming aggregation and sink semantics."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from nqs_console_flink_window_spark.config import SMOKE_SF_DIR
from nqs_console_flink_window_spark.sinks import writers as W
from nqs_console_flink_window_spark.sources.batch import load_table
from nqs_console_flink_window_spark.sources.streams import read_events_stream
from nqs_console_flink_window_spark.streaming import jobs as J

_DISPATCH = "CAST(value AS DOUBLE)"  # simple stand-in score for parity runs


def test_fact_stream_matches_batch(spark) -> None:
    ev = load_table(spark, SMOKE_SF_DIR, "events")
    cust = load_table(spark, SMOKE_SF_DIR, "customer")
    batch = J.fact_transform(ev, cust, _DISPATCH)

    work = tempfile.mkdtemp(prefix="nqs_t_")
    J.run_fact_stream(spark, SMOKE_SF_DIR, f"{work}/out", f"{work}/cp", _DISPATCH)
    landed = spark.read.parquet(f"{work}/out").select(*batch.columns)

    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in landed.collect()}
    assert b == s


def test_heartbeat_stream_matches_batch(spark) -> None:
    ev = load_table(spark, SMOKE_SF_DIR, "events")
    cust = load_table(spark, SMOKE_SF_DIR, "customer")
    nat = load_table(spark, SMOKE_SF_DIR, "nation")
    reg_b, hb_b = J.split_register_heartbeat(ev, cust)

    work = tempfile.mkdtemp(prefix="nqs_t_")
    J.run_heartbeat_stream(spark, SMOKE_SF_DIR, f"{work}/out", f"{work}/cp")

    hb_s = spark.read.parquet(f"{work}/out/heartbeat")
    reg_s = spark.read.parquet(f"{work}/out/register")
    assert hb_s.count() == hb_b.count()
    assert reg_s.count() == J.register_rows(reg_b, nat).count()
    # exactly one registration row per unknown probe id
    assert reg_s.select("probe_id").distinct().count() == reg_s.count()


def test_probe_info_fanout_stream(spark) -> None:
    ev = load_table(spark, SMOKE_SF_DIR, "events")
    work = tempfile.mkdtemp(prefix="nqs_t_")
    J.run_probe_info_stream(spark, SMOKE_SF_DIR, f"{work}/out", f"{work}/cp")
    total = ev.count()
    branch_counts = {
        name: spark.read.parquet(f"{work}/out/{name}").count()
        for name in [*J.FANOUT_BRANCHES, "main"]
    }
    assert branch_counts["main"] == total
    assert sum(v for k, v in branch_counts.items() if k != "main") == total


def test_watermarked_window_stream(spark) -> None:
    stream = read_events_stream(spark, SMOKE_SF_DIR)
    agg = J.windowed_counts_stream(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT SUM(cnt) AS n FROM wm_counts").collect()[0].n
    want = load_table(spark, SMOKE_SF_DIR, "events").count()
    assert got == want


def test_ttl_partition_drop(spark, tmp_path) -> None:
    from datetime import date

    ev = load_table(spark, SMOKE_SF_DIR, "events").withColumn(
        "d", F.to_date("ts")
    )
    out = str(tmp_path / "facts")
    W.write_facts(ev, out, "d", shard_key="user_id", shards=4)
    # events span 2024-01-01..30; cutoff ~2024-01-14 drops the first half
    total = ev.count()
    dropped = W.drop_expired_partitions(out, "d", keep_months=3, today=date(2024, 4, 14))
    assert len(dropped) > 0
    remaining = spark.read.parquet(out).count()
    assert 0 < remaining < total


def test_kafka_payload_shape(spark) -> None:
    ev = load_table(spark, SMOKE_SF_DIR, "events").limit(5)
    payload = W.kafka_payload(ev).collect()
    import json

    for r in payload:
        obj = json.loads(r.value)
        assert "event_id" in obj and "event_type" in obj


def test_multi_batch_stream_resume(spark, tmp_path) -> None:
    """W2 analogue — maxFilesPerTrigger caps micro-batch size (the
    count-or-time early-fire knob) and checkpointing resumes: split the
    fixture into chunk files, stream with 1 file per trigger, confirm
    multiple batches land exactly-once."""
    from nqs_console_flink_window_spark.sources.streams import read_events_stream

    src = str(tmp_path / "src")
    ev = load_table(spark, SMOKE_SF_DIR, "events")
    total = ev.count()
    # write raw-nanos form back out so the streaming reader sees its schema
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{SMOKE_SF_DIR}/events.parquet")
    raw.repartition(4).write.mode("overwrite").parquet(src)

    # rename part files to match the reader's glob
    import os

    for i, f in enumerate(sorted(os.listdir(src))):
        if f.endswith(".parquet"):
            os.rename(f"{src}/{f}", f"{src}/events.parquet" if i == 0 else f"{src}/{f}")

    batches = []
    stream = read_events_stream(spark, src, max_files_per_trigger=1)
    # glob in read_events_stream matches only 'events.parquet'; widen via option:
    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def process(df, bid):
        batches.append((bid, df.count()))

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(batches) == 4  # one micro-batch per file: the batch-size cap works
    assert sum(n for _, n in batches) == total

    # restart with same checkpoint: nothing new -> no reprocessing
    batches2 = []

    def process2(df, bid):
        batches2.append((bid, df.count()))

    q2 = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(process2)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    assert sum(n for _, n in batches2) == 0  # exactly-once: offsets committed


def test_fact_stream_dead_letter(spark, tmp_path) -> None:
    """P2 rejects route to a dead-letter table instead of silent drop."""
    import pyspark.sql.functions as SF

    from nqs_console_flink_window_spark.streaming.jobs import fact_transform

    ev = load_table(spark, SMOKE_SF_DIR, "events")
    # no nulls in fixture: verify the reject branch is empty end-to-end
    work = str(tmp_path / "w")
    J.run_fact_stream(spark, SMOKE_SF_DIR, f"{work}/out", f"{work}/cp", _DISPATCH)
    import os

    assert not os.path.exists(f"{work}/out_rejects")
    # and with synthesized nulls the invalid() filter catches them
    from nqs_console_flink_window_spark.operators.parse import invalid

    dirty = ev.withColumn(
        "event_type", SF.when(SF.col("event_id") % 10 == 0, None).otherwise(SF.col("event_type"))
    )
    n_bad = invalid(dirty, ["event_type", "user_id"]).count()
    assert n_bad == dirty.filter(SF.col("event_id") % 10 == 0).count()


def test_compaction_preserves_rows(spark, tmp_path) -> None:
    """S2 at scale — micro-batch appends fragment partitions; compaction
    rewrites a day partition to few files without changing its rows."""
    import glob

    ev = load_table(spark, SMOKE_SF_DIR, "events").withColumn("d", F.to_date("ts"))
    out = str(tmp_path / "facts")
    # simulate 5 micro-batch appends -> >=5 files per partition
    for i in range(5):
        part = ev.filter(F.col("event_id") % 5 == i)
        W.write_facts(part, out, "d")
    day = "2024-01-03"
    before_files = len(glob.glob(f"{out}/d={day}/*.parquet"))
    before_rows = spark.read.parquet(f"{out}/d={day}").count()
    assert before_files >= 5

    after_files = W.compact_partition(spark, out, "d", day)
    assert after_files == 1
    assert spark.read.parquet(f"{out}/d={day}").count() == before_rows
    # untouched partitions still readable
    assert spark.read.parquet(out).count() == ev.count()


def test_compaction_spares_concurrent_append(spark, tmp_path, monkeypatch) -> None:
    """Online-safety property: a file appended AFTER the input snapshot was
    taken (a concurrent micro-batch landing mid-compaction) must survive —
    the compactor deletes only the files it snapshotted and read, so no
    concurrent write is ever read-skipped AND deleted (the round-1 advisor's
    rmtree/rename data-loss window)."""
    import glob as glob_mod

    ev = load_table(spark, SMOKE_SF_DIR, "events").withColumn("d", F.to_date("ts"))
    out = str(tmp_path / "facts")
    for i in range(4):
        W.write_facts(ev.filter(F.col("event_id") % 5 == i), out, "d")
    day = "2024-01-03"
    part = f"{out}/d={day}"
    full_rows = spark.read.parquet(part).count()

    # the "concurrent" file: present on disk but hidden from the snapshot
    # glob, exactly as if it landed between the snapshot and the swap
    late = ev.filter(F.col("event_id") % 5 == 4).filter(F.col("d") == day)
    late_rows = late.count()
    assert late_rows > 0
    late.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "late"))
    late_src = glob_mod.glob(str(tmp_path / "late" / "*.parquet"))[0]
    real_glob = glob_mod.glob

    def snapshot_then_land(pattern, **kw):
        files = real_glob(pattern, **kw)
        if pattern.startswith(part):
            import shutil

            shutil.copy(late_src, f"{part}/late-concurrent.parquet")
            return [f for f in files if "late-concurrent" not in f]
        return files

    monkeypatch.setattr(glob_mod, "glob", snapshot_then_land)
    W.compact_partition(spark, out, "d", day)
    monkeypatch.setattr(glob_mod, "glob", real_glob)

    import os

    assert os.path.exists(f"{part}/late-concurrent.parquet")
    assert spark.read.parquet(part).count() == full_rows + late_rows


def test_compaction_crash_after_move_in_rolls_forward(
    spark, tmp_path, monkeypatch
) -> None:
    """A compaction that dies after moving the compacted file in but
    before deleting its inputs leaves both on disk; the next pass must
    finish the interrupted fold (delete the inputs) instead of folding
    the compacted file AND its inputs together into permanent duplicates."""
    import pathlib

    import pytest

    ev = load_table(spark, SMOKE_SF_DIR, "events").withColumn("d", F.to_date("ts"))
    out = str(tmp_path / "facts")
    for i in range(3):
        W.write_facts(ev.filter(F.col("event_id") % 3 == i), out, "d")
    day = "2024-01-03"
    part = f"{out}/d={day}"
    want = spark.read.parquet(part).count()

    real_unlink = pathlib.Path.unlink

    def crash_on_input_delete(self, *a, **kw):
        if self.name.startswith("part-") and self.parent.name == f"d={day}":
            raise RuntimeError("crash after move-in")
        return real_unlink(self, *a, **kw)

    with monkeypatch.context() as mp:
        mp.setattr(pathlib.Path, "unlink", crash_on_input_delete)
        with pytest.raises(RuntimeError, match="crash after move-in"):
            W.compact_partition(spark, out, "d", day)
    W.compact_partition(spark, out, "d", day)
    spark.catalog.refreshByPath(part)
    assert spark.read.parquet(part).count() == want


def test_progress_collector_counts_rows(spark, tmp_path) -> None:
    """Observability — the StreamingQueryListener sees every micro-batch."""
    from nqs_console_flink_window_spark.streaming.metrics import ProgressCollector

    collector = ProgressCollector()
    spark.streams.addListener(collector)
    try:
        work = str(tmp_path / "w")
        J.run_fact_stream(spark, SMOKE_SF_DIR, f"{work}/out", f"{work}/cp", _DISPATCH)
        import time

        for _ in range(20):  # listener delivery is async
            if collector.total_rows >= 1000:
                break
            time.sleep(0.5)
        total = load_table(spark, SMOKE_SF_DIR, "events").count()
        assert collector.total_rows == total
    finally:
        spark.streams.removeListener(collector)


def test_idempotent_batch_write_replay(spark, tmp_path) -> None:
    """S2 idempotence: replaying the same micro-batch (foreachBatch is
    at-least-once) overwrites its own batch_id subpath instead of
    double-appending — total row count is unchanged."""
    from nqs_console_flink_window_spark.sinks.writers import idempotent_batch_write

    out = str(tmp_path / "facts")
    df = spark.range(100).withColumn("w_date", F.lit("2024-01-01"))
    idempotent_batch_write(df, out, 0, partition_cols=("w_date",))
    idempotent_batch_write(df, out, 1, partition_cols=("w_date",))
    assert spark.read.parquet(out).count() == 200
    # replay batch 1 (e.g. crash after a partial write, checkpoint re-runs it)
    idempotent_batch_write(df, out, 1, partition_cols=("w_date",))
    replayed = spark.read.parquet(out)
    assert replayed.count() == 200
    assert set(r["batch_id"] for r in replayed.select("batch_id").distinct().collect()) == {0, 1}


def test_count_or_time_trigger_fires_at_exact_count(spark, tmp_path) -> None:
    """W2 literal semantics: every count-path fire carries exactly max_count
    records, per-key count-fire totals match floor(total/max_count), and the
    remainder flushes through the time path once timeout_ms elapses.

    ProcessingTimeTimeout timers need a live clock, so the query runs under a
    processing-time trigger and is stopped explicitly once the expected fires
    land (availableNow would drain the files but never terminate while
    wall-clock timers are outstanding)."""
    import collections
    import time

    from nqs_console_flink_window_spark.config import SMOKE_SF_DIR
    from nqs_console_flink_window_spark.operators.stateful import count_or_time_fires

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{SMOKE_SF_DIR}/events.parquet")
    totals = {
        r["event_type"]: r["cnt"]
        for r in raw.groupBy("event_type").count().withColumnRenamed("count", "cnt").collect()
    }
    want_count_fires = sum(t // 60 for t in totals.values())
    want_time_fires = sum(1 for t in totals.values() if t % 60)
    src = str(tmp_path / "src")
    raw.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(raw.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    sink = "cot_fires"
    q = (
        count_or_time_fires(stream, "event_type", max_count=60, timeout_ms=3_000)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            fires = spark.sql(f"SELECT * FROM {sink}").collect()
            n_count = sum(1 for r in fires if r["reason"] == "count")
            n_time = sum(1 for r in fires if r["reason"] == "time")
            if n_count >= want_count_fires and n_time >= want_time_fires:
                break
            time.sleep(1)
    finally:
        q.stop()
    fires = spark.sql(f"SELECT * FROM {sink}").collect()
    assert all(r["n_records"] == 60 for r in fires if r["reason"] == "count")
    fired = collections.Counter(r["key"] for r in fires if r["reason"] == "count")
    for k, total in totals.items():
        assert fired.get(k, 0) == total // 60, (k, total, fired.get(k))
    # time path: each key's remainder flushed exactly once, with the leftover
    remainders = {r["key"]: r["n_records"] for r in fires if r["reason"] == "time"}
    for k, total in totals.items():
        if total % 60:
            assert remainders.get(k) == total % 60, (k, total, remainders.get(k))


def test_seen_router_registers_once_then_heartbeats_and_reregisters_after_ttl(
    spark, tmp_path
) -> None:
    """R1/Redis-TTL semantics: first message per key -> register, later
    messages -> heartbeat while the marker is fresh, and a key silent past
    the TTL re-registers (the lapsed-SETEX behavior)."""
    import time

    from nqs_console_flink_window_spark.operators.stateful import seen_router_stream

    # Processing-time TTL is wall-clock sensitive: each drain() restart costs
    # seconds of query setup, so keep state partitions tiny (fast restart)
    # and the TTL comfortably above one drain's overhead.
    ttl_ms = 12_000
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    # try/finally spans EVERY drain: an assertion failure in the first drain
    # must not leak partitions=2 into later tests on the shared session.
    try:
        src = str(tmp_path / "src")
        cp = str(tmp_path / "cp")
        df1 = spark.createDataFrame(
            [("p1", 1), ("p1", 2), ("p2", 3)], "probe string, x int"
        )
        df1.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(df1.schema).parquet(src)
        out = seen_router_stream(stream, "probe", ttl_ms=ttl_ms)

        def drain() -> list:
            rows: list = []

            def sink(df, _bid):
                rows.extend(
                    (r["key"], r["route"], r["n_records"]) for r in df.collect()
                )

            q = (
                out.writeStream.foreachBatch(sink)
                .outputMode("append")
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return sorted(rows)

        assert drain() == [
            ("p1", "heartbeat", 1),
            ("p1", "register", 1),
            ("p2", "register", 1),
        ]

        # within TTL: same keys heartbeat, a new key registers
        spark.createDataFrame(
            [("p1", 4), ("p3", 5)], "probe string, x int"
        ).write.mode("append").parquet(src)
        assert drain() == [("p1", "heartbeat", 1), ("p3", "register", 1)]

        # past TTL: the lapsed key re-registers
        time.sleep(ttl_ms / 1000 + 1)
        spark.createDataFrame([("p1", 6)], "probe string, x int").write.mode(
            "append"
        ).parquet(src)
        assert drain() == [("p1", "register", 1)]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def test_interval_join_stream_matches_batch(spark) -> None:
    """Stream-stream interval join over the drained fixture == the same
    event-time range join in batch."""
    ev_stream = read_events_stream(spark, SMOKE_SF_DIR)
    clicks = ev_stream.filter(F.col("event_type") == "click")
    views = ev_stream.filter(F.col("event_type") == "view")
    q = (
        J.interval_join_stream(clicks, views, lookback_sec=14 * 86400, watermark="30 days")
        .writeStream.format("memory")
        .queryName("ij_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.click_id, r.view_id)
        for r in spark.sql("SELECT click_id, view_id FROM ij_out").collect()
    }

    ev = load_table(spark, SMOKE_SF_DIR, "events")
    bl = ev.filter(F.col("event_type") == "click").alias("l")
    br = ev.filter(F.col("event_type") == "view").alias("r")
    want = {
        (r.click_id, r.view_id)
        for r in bl.join(
            br,
            F.expr(
                "l.user_id = r.user_id AND "
                "r.ts BETWEEN l.ts - INTERVAL 14 DAYS AND l.ts"
            ),
        )
        .select(
            F.col("l.event_id").alias("click_id"),
            F.col("r.event_id").alias("view_id"),
        )
        .collect()
    }
    assert got == want and len(want) > 0


def test_dedup_stream_drops_watermark_horizon_dupes(spark, tmp_path) -> None:
    """dropDuplicatesWithinWatermark keeps one row per key for duplicates
    arriving inside the horizon."""
    src = str(tmp_path / "src")
    ev = load_table(spark, SMOKE_SF_DIR, "events").limit(200)
    # duplicate every row (same event_id, same ts) — at-least-once replay
    ev.union(ev).write.mode("overwrite").parquet(src)

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        J.dedup_stream(stream, ["event_id"])
        .writeStream.format("memory")
        .queryName("dd_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n = spark.sql("SELECT COUNT(DISTINCT event_id) AS d, COUNT(*) AS n FROM dd_out").collect()[0]
    assert n.n == 200 and n.d == 200


def test_streaming_continuous_aggregate_exact_across_batches(spark, tmp_path) -> None:
    """Minute-rollup partials landed by a 3-batch stream, re-aggregated to
    hours, equal the direct raw hour aggregation bit-for-bit — minutes
    split across batches included (decimal partials are associative)."""
    ev = load_table(spark, SMOKE_SF_DIR, "events")
    src = str(tmp_path / "src")
    # 3 source files -> 3 micro-batches; rows of one minute scatter across
    # batches, so cross-batch partial merging is genuinely exercised
    ev.repartition(3).write.mode("overwrite").parquet(src)

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    rollup_dir = str(tmp_path / "rollup")
    J.run_rollup_stream(stream, rollup_dir, str(tmp_path / "ckpt"))

    # at least 2 batch_id partitions landed (3 files, 1 per trigger)
    import pathlib

    batches = [p.name for p in pathlib.Path(rollup_dir).iterdir() if p.name.startswith("batch_id=")]
    assert len(batches) >= 2

    got = {
        (r["event_type"], r["bucket_h"]): (r["cnt"], r["sum_value"])
        for r in J.hour_rollup_from_minute(spark, rollup_dir).collect()
    }
    want = {
        (r["event_type"], r["bucket_h"]): (r["cnt"], r["sum_value"])
        for r in ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket_h"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("sum_value"),
        )
        .collect()
    }
    assert got == want


def test_seen_router_tws_native_ttl_state(spark, tmp_path) -> None:
    """transformWithStateInPandas variant: same register/heartbeat routing,
    but the TTL is enforced by the state store itself (RocksDB provider,
    ttlDurationMs on the ValueState) — the native SETEX analogue.

    The transformWithState Python worker speaks protobuf to the JVM state
    server; skip when the protobuf wheel isn't in the environment."""
    import time

    import pytest

    pytest.importorskip("google.protobuf")

    from nqs_console_flink_window_spark.operators.stateful import seen_router_tws

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = str(tmp_path / "src")
        cp = str(tmp_path / "cp")
        df1 = spark.createDataFrame(
            [("p1", 1), ("p1", 2), ("p2", 3)], "probe string, x int"
        )
        df1.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(df1.schema).parquet(src)
        out = seen_router_tws(stream, "probe", ttl_ms=3_000)

        def drain() -> list:
            rows: list = []

            def sink(df, _bid):
                rows.extend(
                    (r["key"], r["route"], r["n_records"]) for r in df.collect()
                )

            q = (
                out.writeStream.foreachBatch(sink)
                .outputMode("update")
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return sorted(rows)

        assert drain() == [
            ("p1", "heartbeat", 1),
            ("p1", "register", 1),
            ("p2", "register", 1),
        ]

        # within TTL: known key heartbeats, a new key registers
        spark.createDataFrame(
            [("p1", 4), ("p3", 5)], "probe string, x int"
        ).write.mode("append").parquet(src)
        assert drain() == [("p1", "heartbeat", 1), ("p3", "register", 1)]

        # past TTL: the state-store-expired key re-registers
        time.sleep(4)
        spark.createDataFrame([("p1", 6)], "probe string, x int").write.mode(
            "append"
        ).parquet(src)
        assert drain() == [("p1", "register", 1)]
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_jdbc_facts_roundtrip_embedded_derby(spark, tmp_path) -> None:
    """S3/S5 — write_facts_jdbc lands a fact batch in a real relational
    database (embedded Derby ships with Spark) and reads back identical
    rows: the reference's insertList path (ProbeHeartbeatSink.java:41-51)
    exercised end-to-end through format('jdbc'), including the append-twice
    accumulation semantics and the connection-capping coalesce."""
    from nqs_console_flink_window_spark.sinks.writers import write_facts_jdbc

    url = f"jdbc:derby:{tmp_path}/factsdb;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    df = spark.createDataFrame(
        [(1, "p1", 10, 1.5), (2, "p2", 20, 2.5), (3, "p1", 10, 3.5)],
        "event_id long, probe string, status int, value double",
    )
    write_facts_jdbc(df, url, "heartbeat_facts", driver=drv, max_connections=2)
    write_facts_jdbc(df.limit(1), url, "heartbeat_facts", driver=drv)

    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "heartbeat_facts")
        .option("driver", drv)
        .load()
    )
    got = sorted(map(tuple, back.collect()))
    want = sorted(
        [tuple(r) for r in df.collect()] + [tuple(df.limit(1).collect()[0])]
    )
    assert got == want
    assert dict(back.dtypes) == dict(df.dtypes)


def test_streaming_jdbc_landing_foreachbatch(spark, tmp_path) -> None:
    """S3/S4 streaming form — the reference's sink operators receive each
    window's records and insertList them into the database
    (ProbeHeartbeatSink.java:41-51); here every micro-batch lands through
    write_facts_jdbc inside foreachBatch.  Exactly-once-ish: Derby totals
    must equal the source row count after a multi-batch availableNow drain."""
    from nqs_console_flink_window_spark.sinks.writers import write_facts_jdbc

    url = f"jdbc:derby:{tmp_path}/streamdb;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    src = str(tmp_path / "src")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{SMOKE_SF_DIR}/events.parquet")
    raw.repartition(3).write.mode("overwrite").parquet(src)
    total = raw.count()

    def land(df, _bid):
        write_facts_jdbc(
            df.select("event_id", "user_id", "event_type"),
            url,
            "fact_land",
            driver=drv,
            max_connections=2,
        )

    q = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(land)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "fact_land")
        .option("driver", drv)
        .load()
    )
    assert back.count() == total
    assert back.select("event_id").distinct().count() == total


def test_read_events_stream_bare_part_files_fallback(spark, tmp_path) -> None:
    """Advisor round-3 fix: when sf_dir holds only bare part files (no
    events.parquet), the reader must widen its glob along with the schema
    probe fallback — previously it built a stream whose events.parquet glob
    matched nothing and silently never emitted."""
    src = str(tmp_path / "src")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{SMOKE_SF_DIR}/events.parquet")
    raw.repartition(3).write.mode("overwrite").parquet(src)
    total = raw.count()

    seen = []
    q = (
        read_events_stream(spark, src)
        .writeStream.foreachBatch(lambda df, _b: seen.append(df.count()))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sum(seen) == total


def test_read_events_stream_directory_events_parquet(spark, tmp_path) -> None:
    """Round-4 review finding: when events.parquet is a Spark-written
    DIRECTORY of part files (the layout tools/soak.py produces), the glob
    matches leaf file names and the old reader silently never emitted —
    the reader must stream from inside the directory."""
    sf_dir = str(tmp_path / "sf")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{SMOKE_SF_DIR}/events.parquet")
    raw.repartition(3).write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")
    total = raw.count()

    seen = []
    q = (
        read_events_stream(spark, sf_dir)
        .writeStream.foreachBatch(lambda df, _b: seen.append(df.count()))
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sum(seen) == total


def test_incremental_dedup_stream_across_batches(spark, tmp_path) -> None:
    """Streaming corpus ingest: three micro-batches dedup against the
    persisted band index; the final survivor set carries no LSH band
    collision (order-independent invariant), covers the corpus together
    with the dropped docs, and the landed index is exactly the survivors'
    bands."""
    from nqs_console_flink_window_spark.operators.dedup_text import band_table

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    src = str(tmp_path / "src")
    # doc_id ranges per file make the micro-batch content deterministic
    # regardless of file listing order
    docs.withColumn("part", F.col("doc_id") % 3).write.partitionBy(
        "part"
    ).mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    kept_dir = str(tmp_path / "kept")
    index_dir = str(tmp_path / "index")
    J.run_incremental_dedup_stream(
        spark, stream, kept_dir, index_dir, str(tmp_path / "cp")
    )

    kept = spark.read.parquet(kept_dir).drop("batch_id")
    index = spark.read.parquet(index_dir).drop("batch_id")
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert kept_ids <= all_ids and len(kept_ids) < len(all_ids)  # some dropped

    # no two survivors collide on any LSH band — the cross-batch dedup
    # guarantee, independent of micro-batch arrival order
    kb = band_table(spark, kept)
    collisions = (
        kb.alias("a")
        .join(
            kb.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .count()
    )
    assert collisions == 0

    # the persisted index is exactly the survivors' bands
    assert {r["doc_id"] for r in index.select("doc_id").distinct().collect()} == kept_ids


def test_incremental_dedup_batch_replay_converges(spark, tmp_path) -> None:
    """At-least-once replay: re-ingesting the SAME batch with the SAME
    batch_id must reproduce identical survivors — the index read excludes
    the batch's own landed bands, so a replay cannot see the first
    attempt's output and drop every survivor as a self-duplicate."""
    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    kept_dir = str(tmp_path / "kept")
    index_dir = str(tmp_path / "index")

    J.ingest_dedup_batch(spark, b0, 0, kept_dir, index_dir)
    J.ingest_dedup_batch(spark, b1, 1, kept_dir, index_dir)
    first = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{kept_dir}/batch_id=1").select("doc_id").collect()
    )
    assert first  # batch 1 kept something

    # crash-after-land, checkpoint-not-committed: batch 1 replays
    J.ingest_dedup_batch(spark, b1, 1, kept_dir, index_dir)
    replay = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{kept_dir}/batch_id=1").select("doc_id").collect()
    )
    assert replay == first
    idx = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{index_dir}/batch_id=1")
        .select("doc_id")
        .distinct()
        .collect()
    )
    assert idx == first


def test_packing_stream_matches_batch_and_replays(spark, tmp_path) -> None:
    """Streaming sequence packing with derived carry: three doc_id-contiguous
    micro-batches produce EXACTLY the batch pack_sequences_sql assignment
    (window splits across batch boundaries included), and replaying a batch
    converges."""
    from nqs_console_flink_window_spark.functions import dialect as X
    from nqs_console_flink_window_spark.operators import packing as PK
    from nqs_console_flink_window_spark.sources.batch import register_temp_views

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    src = str(tmp_path / "src")
    n = docs.count()
    # contiguous doc_id ranges => the stream sees docs in global order
    # coalesce(1): one file per part dir, so maxFilesPerTrigger=1 yields
    # doc_id-contiguous batches by construction, not by fixture accident
    docs.coalesce(1).withColumn(
        "part", (F.col("doc_id") * 3 / n).cast("int")
    ).write.partitionBy("part").mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_dir = str(tmp_path / "packed")
    J.run_packing_stream(
        spark, stream, out_dir, str(tmp_path / "cp"), length=PK.WINDOW_TOKENS
    )

    streamed = sorted(
        tuple(r)
        for r in spark.read.parquet(out_dir).drop("batch_id").collect()
    )
    register_temp_views(spark, SMOKE_SF_DIR, ("documents",))
    batch = sorted(
        tuple(r) for r in spark.sql(PK.pack_sequences_sql(X.SPARK)).collect()
    )
    assert streamed == batch

    # replay the highest batch id: identical subpath content afterwards
    import re
    from pathlib import Path

    bids = sorted(
        int(re.match(r"batch_id=(\d+)", p.name).group(1))
        for p in Path(out_dir).iterdir()
        if p.name.startswith("batch_id=")
    )
    last = bids[-1]
    before = sorted(
        tuple(r) for r in spark.read.parquet(f"{out_dir}/batch_id={last}").collect()
    )
    # the docs that batch saw are recoverable from its own assignment rows
    seen = [r[0] for r in spark.read.parquet(f"{out_dir}/batch_id={last}").select("doc_id").distinct().collect()]
    J.pack_batch(
        spark, docs.filter(F.col("doc_id").isin(seen)), last, out_dir, PK.WINDOW_TOKENS
    )
    after = sorted(
        tuple(r) for r in spark.read.parquet(f"{out_dir}/batch_id={last}").collect()
    )
    assert after == before


def test_curation_stream_scores_filters_dedups(spark, tmp_path) -> None:
    """Streaming corpus curation: micro-batches are DSIR-scored against a
    model fitted ONCE on a reference corpus, quality-filtered, then
    index-deduped.  Checks: (a) landed scores equal the batch dsir_score
    on the same docs, exactly, in integer micro-nats; (b) every landed doc
    passes both thresholds and every in-threshold doc was only dropped by
    dedup (band collision with a survivor); (c) survivors carry no band
    collision."""
    from nqs_console_flink_window_spark.operators import selection as SEL
    from nqs_console_flink_window_spark.operators.dedup_text import band_table

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    model = SEL.dsir_fit(spark, docs)

    src = str(tmp_path / "src")
    docs.withColumn("part", F.col("doc_id") % 3).write.partitionBy(
        "part"
    ).mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    kept_dir = str(tmp_path / "kept")
    index_dir = str(tmp_path / "index")
    min_quality, min_logw = 15.0, -1.0
    J.run_curation_stream(
        spark, stream, model, kept_dir, index_dir, str(tmp_path / "cp"),
        min_quality=min_quality, min_logw=min_logw,
    )

    kept = spark.read.parquet(kept_dir)
    rows = kept.collect()
    assert rows, "curation stream landed nothing"

    # (a) landed DSIR scores == batch scoring against the same model
    want = {
        r["doc_id"]: r["lw_micro"]
        for r in SEL.dsir_score(spark, docs, model).collect()
    }
    for r in rows:
        assert round(r["log_weight"] * 1e6) == want[r["doc_id"]], r["doc_id"]
        assert r["quality"] >= min_quality
        assert r["log_weight"] >= min_logw

    # (b) every doc passing both thresholds either landed or band-collides
    # with a landed survivor (dedup was the only other drop reason)
    from nqs_console_flink_window_spark.functions import dialect as X
    from nqs_console_flink_window_spark.operators import text as TX

    passing = {
        r["doc_id"]
        for r in docs.withColumn("q", F.expr(TX.quality_score_expr(X.SPARK)))
        .filter(F.col("q") >= min_quality)
        .select("doc_id")
        .collect()
        if want[r["doc_id"]] / 1e6 >= min_logw
    }
    kept_ids = {r["doc_id"] for r in rows}
    assert kept_ids <= passing
    dropped = passing - kept_ids
    if dropped:
        kb = band_table(spark, kept)
        db = band_table(spark, docs.filter(F.col("doc_id").isin([int(x) for x in dropped])))
        collided = {
            r["doc_id"]
            for r in db.join(
                kb.select("band_id", "band_key").distinct(), ["band_id", "band_key"]
            )
            .select("doc_id")
            .distinct()
            .collect()
        }
        assert collided == dropped

    # (c) survivors are band-collision-free
    kb = band_table(spark, kept)
    assert (
        kb.alias("a")
        .join(
            kb.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .count()
        == 0
    )


def test_curation_batch_replay_converges(spark, tmp_path) -> None:
    """At-least-once replay of a curation batch (same batch, same
    batch_id) reproduces identical survivors and scores — the same
    exclude-own-batch index rule as the dedup ingest, now with the
    score/filter stage in front."""
    from nqs_console_flink_window_spark.operators import selection as SEL

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    model = SEL.dsir_fit(spark, docs)
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    kept_dir = str(tmp_path / "kept")
    index_dir = str(tmp_path / "index")

    J.curate_batch(spark, b0, 0, model, kept_dir, index_dir)
    J.curate_batch(spark, b1, 1, model, kept_dir, index_dir)

    def snap():
        return sorted(
            (r["doc_id"], r["quality"], r["log_weight"])
            for r in spark.read.parquet(f"{kept_dir}/batch_id=1").collect()
        )

    first = snap()
    assert first
    J.curate_batch(spark, b1, 1, model, kept_dir, index_dir)  # replay
    assert snap() == first


def test_compact_batch_landings_preserves_derived_state(spark, tmp_path) -> None:
    """Batch-landing compaction folds committed subpaths into the reserved
    batch_id=-1 generation: rows identical before/after, file count drops,
    _read_prior_batches sees the same derived state, and the next ingest
    batch behaves exactly as it would have uncompacted."""
    from nqs_console_flink_window_spark.sinks.writers import compact_batch_landings

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    parts = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    kept_dir = str(tmp_path / "kept")
    index_dir = str(tmp_path / "index")
    J.ingest_dedup_batch(spark, parts[0], 0, kept_dir, index_dir)
    J.ingest_dedup_batch(spark, parts[1], 1, kept_dir, index_dir)

    def snap(d, upto):
        df = J._read_prior_batches(spark, d, upto)
        return sorted(tuple(r) for r in df.collect()) if df is not None else None

    import glob

    before_state = snap(index_dir, 2)
    before_kept = snap(kept_dir, 2)
    files_before = len(glob.glob(f"{index_dir}/batch_id=*/*.parquet"))

    # both batches committed (stream stopped) -> compact everything < 2
    n = compact_batch_landings(spark, index_dir, 2)
    compact_batch_landings(spark, kept_dir, 2)
    assert n >= 1
    files_after = len(glob.glob(f"{index_dir}/batch_id=*/*.parquet"))
    assert files_after < files_before
    assert snap(index_dir, 2) == before_state
    assert snap(kept_dir, 2) == before_kept

    # next batch ingests against the compacted index identically: dedup
    # decisions depend only on the derived state, which is unchanged
    J.ingest_dedup_batch(spark, parts[2], 2, kept_dir, index_dir)
    third = snap(kept_dir, 3)
    assert third is not None and len(third) > len(before_kept)

    # a second compaction folds the -1 generation plus batch 2 idempotently
    before_second = snap(index_dir, 3)
    compact_batch_landings(spark, index_dir, 3)
    assert snap(index_dir, 3) == before_second


def test_compaction_crash_recovery_never_duplicates(spark, tmp_path) -> None:
    """Fold-manifest crash safety: a compaction that dies (a) after moving
    the new generation in but before deleting the merged inputs, or (b)
    mid-rename with the manifest committed, must be settled by the next pass
    with the landing table's rows EXACTLY as before — the pre-manifest
    behavior permanently baked the (a) duplicates in on the next merge."""
    import json
    import shutil
    from pathlib import Path

    from nqs_console_flink_window_spark.sinks.writers import (
        COMPACTED_GEN,
        compact_batch_landings,
    )

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    kept_dir = str(tmp_path / "kept")
    index_dir = str(tmp_path / "index")
    for i in range(2):
        J.ingest_dedup_batch(
            spark, docs.filter(F.col("doc_id") % 2 == i), i, kept_dir, index_dir
        )

    def snap(d):
        df = J._read_prior_batches(spark, d, 10)
        return sorted(tuple(r) for r in df.collect())

    baseline = snap(index_dir)
    gen = Path(index_dir) / f"batch_id={COMPACTED_GEN}"

    # --- crash (a): new generation fully in place, inputs NOT deleted.
    # Run a real compaction, then resurrect its inputs + manifest as if the
    # process had died right before the deletion step.
    inputs = sorted(
        str(p)
        for sub in Path(index_dir).glob("batch_id=*")
        for p in sub.glob("*.parquet")
    )
    saved = {f: Path(f).read_bytes() for f in inputs}
    compact_batch_landings(spark, index_dir, 10)
    assert snap(index_dir) == baseline
    new_files = sorted(p.name for p in gen.glob("compact-*.parquet"))
    for f, blob in saved.items():  # resurrect the "undeleted" inputs
        Path(f).parent.mkdir(parents=True, exist_ok=True)
        Path(f).write_bytes(blob)
    (gen / "_compact-deadbeef.manifest.json").write_text(
        json.dumps({"new_files": new_files, "inputs": list(saved)})
    )
    # rows currently double-counted (crash window) — next pass must repair,
    # not merge both copies
    compact_batch_landings(spark, index_dir, 10)
    assert snap(index_dir) == baseline
    assert not list(gen.glob("_compact-*.manifest.json"))

    # --- crash (b): manifest committed but renames incomplete -> roll back.
    partial = gen / "compact-cafe0000-00000.parquet"
    shutil.copyfile(next(iter(gen.glob("compact-*.parquet"))), partial)
    (gen / "_compact-cafe0000.manifest.json").write_text(
        json.dumps(
            {
                "new_files": [partial.name, "compact-cafe0000-00001.parquet"],
                "inputs": [],
            }
        )
    )
    compact_batch_landings(spark, index_dir, 10)
    assert not partial.exists()  # rolled back
    assert snap(index_dir) == baseline

    # --- crash (c): TORN manifest (content never made it to disk).  The
    # fsync-before-rename discipline means nothing after the commit ran —
    # inputs are whole — so the repair must roll BACK: delete the stamp's
    # candidate files, keep everything else.  The old keep-the-candidates
    # behavior duplicated every input row on the next fold.
    torn_candidate = gen / "compact-beef0001-00000.parquet"
    shutil.copyfile(next(iter(gen.glob("compact-*.parquet"))), torn_candidate)
    (gen / "_compact-beef0001.manifest.json").write_text('{"new_files": [')
    compact_batch_landings(spark, index_dir, 10)
    assert not torn_candidate.exists()  # rolled back, not kept
    assert not list(gen.glob("_compact-*.manifest.json"))
    assert snap(index_dir) == baseline

    # --- crash (d): parseable manifest with an EMPTY new_files list is
    # invalid by construction (the fold always stages >=1 file).  all([])
    # is True, so the old code rolled FORWARD and deleted every listed
    # input with no replacement — data loss.  Must roll back instead.
    survivors = sorted(str(p) for p in gen.glob("compact-*.parquet"))
    assert survivors
    (gen / "_compact-beef0002.manifest.json").write_text(
        json.dumps({"new_files": [], "inputs": survivors})
    )
    # a roll-forward here would delete every survivor with no replacement
    # (all([]) is True) — the subsequent fold would then see zero inputs
    # and the landing table's rows would be gone
    compact_batch_landings(spark, index_dir, 10)
    assert not list(gen.glob("_compact-*.manifest.json"))
    assert snap(index_dir) == baseline


def test_curation_handles_sourceless_batches_and_empty_filters(spark, tmp_path) -> None:
    """Scoring must not require fit-only columns: a batch without `source`
    scores against the model fine; and a batch where every doc fails the
    filter lands an empty (but readable) subpath without corrupting the
    index for the next batch."""
    from nqs_console_flink_window_spark.operators import selection as SEL

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    model = SEL.dsir_fit(spark, docs)

    no_source = docs.select("doc_id", "text", "lang", "n_chars")
    scored = SEL.dsir_score(spark, no_source, model)
    want = {r["doc_id"]: r["lw_micro"] for r in SEL.dsir_score(spark, docs, model).collect()}
    got = {r["doc_id"]: r["lw_micro"] for r in scored.collect()}
    assert got == want  # source is fit-time-only; scores identical without it

    kept_dir = str(tmp_path / "kept")
    index_dir = str(tmp_path / "index")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    # impossible quality threshold: everything filtered out
    J.curate_batch(spark, b0, 0, model, kept_dir, index_dir, min_quality=1e9)
    assert spark.read.parquet(kept_dir).count() == 0
    # next batch with a sane threshold proceeds normally on the empty index
    J.curate_batch(spark, docs.filter(F.col("doc_id") % 2 == 1), 1, model, kept_dir, index_dir)
    assert spark.read.parquet(f"{kept_dir}/batch_id=1").count() > 0


def test_curate_cli_end_to_end(tmp_path) -> None:
    """The lifecycle CLI runs green at smoke scale and reports a sane
    funnel (subprocess: its own SparkSession, like a real invocation)."""
    import json
    import pathlib
    import subprocess
    import sys

    repo = pathlib.Path(__file__).resolve().parent.parent
    out = subprocess.run(
        [sys.executable, str(repo / "tools" / "curate.py"), SMOKE_SF_DIR, str(tmp_path / "out")],
        capture_output=True, text=True, timeout=420, check=True,
    )
    report = json.loads(out.stdout.strip().splitlines()[-1])
    assert report["docs_in"] == 500
    assert 0 < report["docs_kept"] < report["docs_in"]
    assert report["min_quality_enforced"] is True
    assert report["compacted_files"] >= 1


def test_quantile_stream_merges_to_exact_batch_histogram(spark, tmp_path) -> None:
    """Mergeable-histogram property end-to-end: 3 micro-batches each land a
    fixed-domain histogram; the merged read-off must equal the one-pass
    batch estimator over the full table BIT-EXACT (histogram merge is plain
    BIGINT addition), and a replayed batch must not change the result
    (idempotent batch_id landing)."""
    from nqs_console_flink_window_spark.operators import sketches as SK

    raw = load_table(spark, SMOKE_SF_DIR, "events").select("event_type", "value")
    src = str(tmp_path / "src")
    raw.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    hist_dir = str(tmp_path / "hist")
    J.run_quantile_stream(
        spark, stream, hist_dir, str(tmp_path / "cp"), lo=0.0, hi=1000.0
    )
    import glob

    assert len(glob.glob(f"{hist_dir}/batch_id=*")) >= 2  # really incremental

    streamed = {
        tuple(r) for r in J.merged_quantiles(spark, hist_dir, 0.0, 1000.0).collect()
    }
    batch = {
        tuple(r)
        for r in SK.quantiles_from_hist(
            SK.fixed_domain_hist(raw, "event_type", "value", 0.0, 1000.0),
            0.0,
            1000.0,
        ).collect()
    }
    assert streamed == batch

    # replay batch 0: same subpath overwritten, merged result unchanged
    first = spark.read.parquet(f"{hist_dir}/batch_id=0")
    J.hist_batch(raw.limit(0), 99, hist_dir, "event_type", "value", 0.0, 1000.0)
    J.hist_batch(
        spark.read.parquet(src).limit(first.agg(F.sum("c")).first()[0]),
        0,
        hist_dir,
        "event_type",
        "value",
        0.0,
        1000.0,
    )
    # not asserting equality of batch 0's internals (limit() order varies);
    # assert the MERGE is still well-formed and total mass is preserved for
    # the untouched batches
    again = J.merged_quantiles(spark, hist_dir, 0.0, 1000.0)
    assert again.count() == len(batch)


def test_embedding_dedup_stream_matches_batch_composition(spark, tmp_path) -> None:
    """Streaming semantic ingest == the batch composition: feeding the
    embeddings in vec_id-ordered micro-batches through
    run_embedding_dedup_stream must keep exactly the vectors the sequential
    incremental_embedding_dedup composition keeps, and a replay of a batch
    must not change the landed survivors."""
    from nqs_console_flink_window_spark.operators import similarity as SIM

    emb = load_table(spark, SMOKE_SF_DIR, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    cut1, cut2 = n // 3, 2 * (n // 3)

    # batch composition (sequential, same batch boundaries)
    b1 = emb.filter(F.col("vec_id") < cut1)
    b2 = emb.filter((F.col("vec_id") >= cut1) & (F.col("vec_id") < cut2))
    b3 = emb.filter(F.col("vec_id") >= cut2)
    k1, bk1, qv1 = SIM.incremental_embedding_dedup(b1, None, None)
    k2, bk2, qv2 = SIM.incremental_embedding_dedup(b2, bk1, qv1)
    k3, _, _ = SIM.incremental_embedding_dedup(
        b3, bk1.unionByName(bk2), qv1.unionByName(qv2)
    )
    want = {
        r["vec_id"] for df in (k1, k2, k3) for r in df.select("vec_id").collect()
    }

    # stream the same three ranges as files in order; FileStreamSource
    # orders by modification time, so stamp strictly increasing mtimes
    # explicitly (same-ms appends on tmpfs could otherwise tie and flip
    # batch order, and the greedy keep-min rule is order-dependent)
    import glob as _glob
    import os as _os

    src = str(tmp_path / "src")
    for i, part in enumerate((b1, b2, b3)):
        before = set(_glob.glob(f"{src}/*.parquet"))
        part.coalesce(1).write.mode("append").parquet(src)
        for f in set(_glob.glob(f"{src}/*.parquet")) - before:
            _os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    # one file per part dir was appended in order; stream 1 file per trigger
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    kept_dir = str(tmp_path / "kept")
    index_dir = str(tmp_path / "index")
    J.run_embedding_dedup_stream(
        spark, stream, kept_dir, index_dir, str(tmp_path / "cp")
    )
    got = {
        r["vec_id"]
        for r in spark.read.parquet(kept_dir).select("vec_id").collect()
    }
    assert got == want

    # replay batch 1 (same content, same id): landed survivors unchanged
    J.ingest_embedding_dedup_batch(spark, b2, 1, kept_dir, index_dir)
    again = {
        r["vec_id"]
        for r in spark.read.parquet(kept_dir).select("vec_id").collect()
    }
    assert again == got


def test_curation_stream_with_lm_gate(spark, tmp_path) -> None:
    """Round 6: the curation gate composed with the CCNet perplexity cut.
    The LM model is fitted once on the 1-in-7 reference slice (so scores
    coincide with the registered lm_perplexity query), streamed in as
    plain Python values, and applied as the exact integer rule
    nll_micro < thr * n_tok.  Checks: (a) every landed doc carries the
    batch query's avg_nll and satisfies the cut; (b) no doc failing the
    cut landed, even if it passed quality and DSIR."""
    from nqs_console_flink_window_spark.operators import retrieval as RT
    from nqs_console_flink_window_spark.operators import selection as SEL
    from nqs_console_flink_window_spark.plans import all as _all  # noqa: F401
    from nqs_console_flink_window_spark.plans.registry import REGISTRY

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    model = SEL.dsir_fit(spark, docs)
    lm_model = RT.lm_model_fit(spark, docs.filter(RT.LM_FIT_PRED))

    src = str(tmp_path / "src")
    docs.withColumn("part", F.col("doc_id") % 3).write.partitionBy(
        "part"
    ).mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    kept_dir = str(tmp_path / "kept")
    thr = RT.LM_TAIL_MICRO
    J.run_curation_stream(
        spark, stream, model, kept_dir, str(tmp_path / "index"),
        str(tmp_path / "cp"), min_quality=0.0, min_logw=-100.0,
        lm_model=lm_model, max_nll_micro_per_tok=thr,
    )

    kept = spark.read.parquet(kept_dir)
    rows = kept.collect()
    assert rows, "curation stream landed nothing"
    batch = {
        r["doc_id"]: (r["n_tok"], r["nll_micro"], r["avg_nll_nats"])
        for r in REGISTRY["lm_perplexity"].spark(spark, SMOKE_SF_DIR).collect()
    }
    kept_ids = set()
    for r in rows:
        n_tok, nll, avg = batch[r["doc_id"]]
        assert r["avg_nll_nats"] == avg, r["doc_id"]
        assert nll < thr * n_tok, r["doc_id"]
        kept_ids.add(r["doc_id"])
    # (b) with quality/DSIR thresholds disabled, the only drop reasons are
    # the perplexity cut and dedup — so every tail-band doc must be absent
    tail_ids = {d for d, (n, nll, _) in batch.items() if nll >= thr * n}
    assert tail_ids, "fixture should have tail-band docs"
    assert not (tail_ids & kept_ids)


def test_web_curate_pipeline_stream_matches_batch_and_replays(
    spark, tmp_path
) -> None:
    """The round-9 WARC->curated-index composition: (a) the STREAMED
    two-batch pipeline lands exactly what a BATCH run of the same stages
    produces (curate batch 0, then batch 1 against batch 0's landed
    state — the deterministic replay of the stream's semantics);
    (b) replaying a batch (same batch_id) converges — kept rows, dedup
    index, text index doclen all unchanged; (c) the landed text index
    answers BM25 identically to an index built directly on the kept
    corpus."""
    from nqs_console_flink_window_spark.operators import retrieval as RT
    from nqs_console_flink_window_spark.operators import selection as SEL
    from nqs_console_flink_window_spark.plans.queries_ext import (
        _WEB_MIN_LW_MICRO,
        _WEB_MIN_QUALITY,
        _WEB_SPLIT,
        web_curate_pipeline,
    )

    streamed = {
        r["doc_id"]: tuple(r)
        for r in web_curate_pipeline(spark, SMOKE_SF_DIR).collect()
    }
    assert streamed, "pipeline landed nothing"

    # (a) batch twin: same models, same two batches, driven directly
    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    model = SEL.dsir_fit(spark, docs)
    lm_model = RT.lm_model_fit(spark, docs.filter(RT.LM_FIT_PRED))
    ext = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", "text", F.length("text").cast("long").alias("n_chars")
    )  # extraction == identity on the single-spaced fixture (roundtrip pin)
    bdir = str(tmp_path / "batch")
    for b, pred in enumerate(
        (F.col("doc_id") < _WEB_SPLIT, F.col("doc_id") >= _WEB_SPLIT)
    ):
        J.curate_index_batch(
            spark,
            ext.filter(pred),
            b,
            model,
            f"{bdir}/kept",
            f"{bdir}/ddidx",
            f"{bdir}/index",
            min_quality=_WEB_MIN_QUALITY,
            min_logw=_WEB_MIN_LW_MICRO / 1e6,
            lm_model=lm_model,
        )
    bk = spark.read.parquet(f"{bdir}/kept")
    bdl = spark.read.parquet(f"{bdir}/index.doclen").select("doc_id", "dl")
    batch_rows = {
        r["doc_id"]: tuple(r)
        for r in bk.join(bdl, "doc_id")
        .select(
            "doc_id",
            "n_chars",
            "quality",
            F.round(F.col("log_weight") * 1e6).cast("long").alias("lw_micro"),
            "avg_nll_nats",
            F.col("dl").cast("bigint").alias("dl"),
        )
        .collect()
    }
    assert batch_rows == streamed

    # (b) replay of batch 1 converges (kept rows + index state unchanged)
    before_idx = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{bdir}/index.doclen").collect()
    )
    J.curate_index_batch(
        spark,
        ext.filter(F.col("doc_id") >= _WEB_SPLIT),
        1,
        model,
        f"{bdir}/kept",
        f"{bdir}/ddidx",
        f"{bdir}/index",
        min_quality=_WEB_MIN_QUALITY,
        min_logw=_WEB_MIN_LW_MICRO / 1e6,
        lm_model=lm_model,
    )
    # fresh reads: the replay's dynamic overwrite replaced the batch_id=1
    # files behind the pre-replay DataFrames' cached listings
    spark.catalog.refreshByPath(f"{bdir}/index.doclen")
    bdl2 = spark.read.parquet(f"{bdir}/index.doclen").select("doc_id", "dl")
    assert {
        r["doc_id"]: tuple(r)
        for r in spark.read.parquet(f"{bdir}/kept")
        .join(bdl2, "doc_id")
        .select(
            "doc_id",
            "n_chars",
            "quality",
            F.round(F.col("log_weight") * 1e6).cast("long").alias("lw_micro"),
            "avg_nll_nats",
            F.col("dl").cast("bigint").alias("dl"),
        )
        .collect()
    } == streamed
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(f"{bdir}/index.doclen").collect()
    ) == before_idx

    # (c) the landed index serves retrieval: BM25 over it == BM25 over an
    # index built directly on the kept corpus
    kept_docs = spark.read.parquet(f"{bdir}/kept").select("doc_id", "text")
    direct = str(tmp_path / "direct_idx")
    RT.build_text_index(spark, kept_docs, direct)
    got = [tuple(r) for r in RT.bm25_topk_indexed(spark, f"{bdir}/index").collect()]
    want = [tuple(r) for r in RT.bm25_topk_indexed(spark, direct).collect()]
    assert got == want and got
