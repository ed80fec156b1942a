"""The standing video index (operators/video_index.py, round 10): the
image index's verbs over the frame-augmented band space — streamed==batch
parity, replay idempotence, the uniqueness contract under VARIABLE rows
per doc, deletion + re-ingest, and the aligned-frame incremental gate
against the DuckDB two-batch oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nqs_console_flink_window_spark.functions import dialect as X
from nqs_console_flink_window_spark.operators import image_index as II
from nqs_console_flink_window_spark.operators import multimodal as MM
from nqs_console_flink_window_spark.operators import video_index as VI

ROWS = [
    (0, "alpha beta\ngamma delta " * 3),
    (1, "alpha beta\ngamma delta " * 3),  # exact dup of 0
    (2, "abcdefghij" * 30),
    (3, "abcdefghij" * 30 + "x"),  # near-dup of 2
    (4, None),  # NULL text: no clip
    (5, "s" * 50),  # all frames hash-zero: indexes nothing
    (6, "completely different filler words that vary a lot here ok"),
    (7, "short"),  # one content frame
    (8, "yet another run of genuinely distinct filler prose right here"),
]


def _docs(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


def _media(spark, pred: str = "true"):
    return MM.documents_as_videos(_docs(spark).filter(pred))


def _rows(spark, path):
    return sorted(
        (r["doc_id"], r["band"], r["bv"])
        for r in VI.read_video_index(spark, path).collect()
    )


def test_video_index_streamed_matches_build_and_replays(spark, tmp_path) -> None:
    """Micro-batch ingests hold the SAME rows as one bulk build; a
    replayed batch overwrites its own slices instead of double-appending;
    variable rows per doc (content frames only) pass the uniqueness
    contract; a repeated doc inside a batch is refused."""
    flat = str(tmp_path / "flat")
    VI.build_video_index(spark, _media(spark), flat)
    streamed = str(tmp_path / "streamed")
    for b, pred in enumerate(("doc_id % 3 = 0", "doc_id % 3 = 1", "doc_id % 3 = 2")):
        VI.video_index_ingest_batch(spark, _media(spark, pred), b, streamed)
    assert _rows(spark, flat) == _rows(spark, streamed)

    # hash-zero-only and NULL-text docs never land
    ids = {d for d, _, _ in _rows(spark, flat)}
    assert 4 not in ids and 5 not in ids
    # variable rows per doc: doc 7 ("short") has ONE content frame
    per_doc = {}
    for d, _, _ in _rows(spark, flat):
        per_doc[d] = per_doc.get(d, 0) + 1
    assert per_doc[7] == MM.DHASH_BANDS
    assert per_doc[0] == 2 * MM.DHASH_BANDS  # two content frames

    # replay batch 1: identical state
    before = _rows(spark, streamed)
    VI.video_index_ingest_batch(spark, _media(spark, "doc_id % 3 = 1"), 1, streamed)
    spark.catalog.refreshByPath(streamed)
    assert _rows(spark, streamed) == before

    # a batch that repeats a doc_id is refused (per-(doc,band) contract)
    dup_media = _media(spark, "doc_id = 6").unionByName(_media(spark, "doc_id = 6"))
    with pytest.raises(ValueError, match="repeats a doc_id"):
        VI.video_index_ingest_batch(spark, dup_media, 9, streamed)
    # a batch re-ingesting an indexed doc is refused
    with pytest.raises(ValueError, match="re-ingests"):
        VI.video_index_ingest_batch(spark, _media(spark, "doc_id = 6"), 9, streamed)


def test_video_index_delete_then_reingest(spark, tmp_path) -> None:
    """Compliance deletion removes every band row of the ids and a
    deleted doc can re-enter through the normal gate."""
    idx = str(tmp_path / "idx")
    VI.video_index_ingest_batch(spark, _media(spark), 0, idx)
    before = {d for d, _, _ in _rows(spark, idx)}
    assert {0, 6} <= before
    VI.video_index_delete(spark, idx, [0, 6])
    spark.catalog.refreshByPath(idx)
    after = {d for d, _, _ in _rows(spark, idx)}
    assert after == before - {0, 6}
    VI.video_index_ingest_batch(spark, _media(spark, "doc_id = 6"), 1, idx)
    spark.catalog.refreshByPath(idx)
    assert {d for d, _, _ in _rows(spark, idx)} == (before - {0}) | {6}


def test_incremental_video_dedup_matches_two_batch_oracle(spark) -> None:
    """The registered two-batch flow on the hostile corpus: engine
    survivors (read back FROM landed band state) == the DuckDB
    s1/dup2/s2 oracle.  Split chosen so the exact-dup pair straddles the
    batches (1 drops against the index) and the near-dup pair sits
    inside batch 2 (3 drops against smaller-id 2... both >= split, the
    in-batch rule)."""
    import duckdb

    split = 1  # batch 1 = {0}; batch 2 = the rest
    docs = _docs(spark)
    m1 = MM.documents_as_videos(docs.filter(F.col("doc_id") < split))
    m2 = MM.documents_as_videos(docs.filter(F.col("doc_id") >= split))
    kept1, bands1 = VI.incremental_video_dedup(spark, m1, None)
    kept2, bands2 = VI.incremental_video_dedup(
        spark, m2, bands1.select("doc_id", "band", "bv")
    )
    got = sorted(
        [(r["doc_id"], 1) for r in kept1.collect()]
        + [(r["doc_id"], 2) for r in kept2.collect()]
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", ROWS)
    want = sorted(
        tuple(r)
        for r in con.execute(
            VI.incremental_video_dedup_sql(X.DUCK, split)
        ).fetchall()
    )
    assert got == want
    kept_ids = {d for d, _ in got}
    assert 0 in kept_ids and 1 not in kept_ids  # cross-batch exact dup drops
    assert 2 in kept_ids and 3 not in kept_ids  # in-batch near-dup drops
    assert {6, 7, 8} <= kept_ids


def test_video_dedup_stream_across_batches_and_replay(spark, tmp_path) -> None:
    """Streaming video ingest: micro-batches decode and aligned-frame-gate
    against the persisted frame-augmented band index; no two survivors
    pair under the aligned-frame rule (the cross-batch guarantee), the
    landed index is exactly the survivors' bands, and an at-least-once
    replay of a batch reproduces identical survivors."""
    from nqs_console_flink_window_spark.config import SMOKE_SF_DIR
    from nqs_console_flink_window_spark.sources.batch import load_table
    from nqs_console_flink_window_spark.streaming import jobs as J

    docs = load_table(spark, SMOKE_SF_DIR, "documents").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "src")
    docs.withColumn("part", F.col("doc_id") % 3).write.partitionBy(
        "part"
    ).mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(docs.select("doc_id", "text").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    kept_dir = str(tmp_path / "kept")
    index_dir = str(tmp_path / "index")
    J.run_video_dedup_stream(
        spark, stream, kept_dir, index_dir, str(tmp_path / "cp")
    )

    kept_ids = {
        r["doc_id"]
        for r in spark.read.parquet(kept_dir).select("doc_id").collect()
    }
    landed = VI.read_video_index(spark, index_dir)
    assert {r["doc_id"] for r in landed.select("doc_id").collect()} == kept_ids

    # no two survivors pair under the aligned-frame rule
    surv_docs = docs.join(
        spark.createDataFrame([(i,) for i in kept_ids], "doc_id long"),
        "doc_id",
        "left_semi",
    )
    surv_docs.createOrReplaceTempView("documents")
    n_pairs = MM.video_near_dup_df(spark).count()
    assert n_pairs == 0

    # replay convergence: re-ingest the last arrival under its own batch id
    before_kept = sorted(kept_ids)
    from pathlib import Path

    arrivals = sorted(
        int(p.name.split("=", 1)[1])
        for p in Path(kept_dir).glob("batch_id=*")
    )
    last = arrivals[-1]
    replay_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{kept_dir}/batch_id={last}").collect()
    }
    parts = {i % 3 for i in replay_ids}
    assert len(parts) == 1
    replay_docs = docs.filter(F.col("doc_id") % 3 == parts.pop())
    J.ingest_video_dedup_batch(spark, replay_docs, last, kept_dir, index_dir)
    spark.catalog.refreshByPath(kept_dir)
    spark.catalog.refreshByPath(index_dir)
    after_kept = sorted(
        r["doc_id"]
        for r in spark.read.parquet(kept_dir).select("doc_id").collect()
    )
    assert after_kept == before_kept
    assert {
        r["doc_id"]
        for r in VI.read_video_index(spark, index_dir)
        .select("doc_id")
        .collect()
    } == kept_ids


def test_shifted_probe_from_index_catches_trimmed_intro(spark, tmp_path) -> None:
    """The standing index answers the shift-tolerant question WITHOUT
    re-decoding (round 11): a one-frame-trimmed twin is invisible to the
    strict aligned probe but caught by video_pairs_shifted_from_index over
    the SAME persisted band rows — and the probe runs on bands alone (no
    payload column exists on its input, so a re-decode is impossible by
    construction).  Both probes are bit-identical to their online forms."""
    base = (
        "the quick brown fox jumps over the lazy dog and keeps running far "
        * 4
    )
    rows = [
        (0, base),
        (1, "x" * MM.VIDEO_FRAME_STRIDE + base),  # one-frame-shifted twin
        (2, "totally different words that do not resemble the others at all"),
        (3, base),  # exact dup of 0
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "vidx")
    VI.build_video_index(spark, MM.documents_as_videos(docs), idx)

    bands = VI.read_video_index(spark, idx).select("doc_id", "band", "bv")
    strict = [
        (r["doc_a"], r["doc_b"])
        for r in VI.video_pairs_from_index(spark, bands).collect()
    ]
    shifted = [
        (r["doc_a"], r["doc_b"], r["matched_frames"])
        for r in VI.video_pairs_shifted_from_index(spark, bands).collect()
    ]
    assert (0, 1) not in strict  # aligned rule misses the trimmed twin
    assert any((a, b) == (0, 1) for a, b, _ in shifted)  # index catches it
    assert (0, 3, 3) in shifted  # exact dup still matches at delta 0
    assert not any(2 in (a, b) for a, b, _ in shifted)

    # bit-identical to the online shifted form on the same corpus
    docs.createOrReplaceTempView("documents")
    online = [
        (r["doc_a"], r["doc_b"], r["matched_frames"])
        for r in MM.video_near_dup_shifted_df(spark).collect()
    ]
    assert shifted == online


def test_shifted_ingest_gate_rejects_trimmed_reupload(spark, tmp_path) -> None:
    """The shift-tolerant ingest-gate mode (round 11): a trimmed-intro
    re-upload of an already-indexed clip passes the STRICT gate (frame
    indices offset by one) but is rejected by the max_shift=1 gate over
    the SAME index rows; unrelated clips pass both, and the strict mode
    (max_shift=0 default) is unchanged."""
    base = (
        "the quick brown fox jumps over the lazy dog and keeps running far "
        * 4
    )
    b1 = spark.createDataFrame([(0, base)], "doc_id long, text string")
    b2 = spark.createDataFrame(
        [
            (10, "x" * MM.VIDEO_FRAME_STRIDE + base),  # trimmed-intro twin
            (11, "unrelated words entirely different from everything else"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "vidx")
    kept1, bands1 = VI.incremental_video_dedup(
        spark, MM.documents_as_videos(b1), None
    )
    II.BANDS.ingest(bands1, 0, idx)
    index = VI.read_video_index(spark, idx)

    strict, _ = VI.incremental_video_dedup(
        spark, MM.documents_as_videos(b2), index
    )
    shifted, _ = VI.incremental_video_dedup(
        spark, MM.documents_as_videos(b2), index, max_shift=1
    )
    assert sorted(r["doc_id"] for r in strict.collect()) == [10, 11]
    assert sorted(r["doc_id"] for r in shifted.collect()) == [11]
