"""The standing audio index (operators/audio_index.py, round 10): the
image verbs + gate over the waveform fingerprint — streamed==build
parity, delete + re-ingest, and the two-batch incremental gate against
the DuckDB oracle (including the silent-clip zero group, which the
image family's fixtures cannot produce in band space)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nqs_console_flink_window_spark.functions import dialect as X
from nqs_console_flink_window_spark.operators import audio_index as AI
from nqs_console_flink_window_spark.operators import multimodal as MM

ROWS = [
    (0, "alpha beta\ngamma delta " * 3),
    (1, "alpha beta\ngamma delta " * 3),  # exact dup of 0
    (2, "abcdefghij" * 30),
    (3, None),  # NULL text: no clip
    (4, "s" * 50),  # silent clip (zero fingerprint)
    (5, "t" * 70),  # another zero-fingerprint clip: true dup of 4
    (6, "completely different filler words that vary a lot here ok"),
]


def _docs(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


def _media(spark, pred: str = "true"):
    return MM.documents_as_audio(_docs(spark).filter(pred))


def _rows(spark, path):
    return sorted(
        (r["doc_id"], r["band"], r["bv"])
        for r in AI.read_audio_index(spark, path).collect()
    )


def test_audio_index_streamed_matches_build_delete_reingest(
    spark, tmp_path
) -> None:
    """Micro-batch ingests hold the same rows as one bulk build (silent
    clips INCLUDED — their zero bands are real fingerprints); deletion
    removes every band row and a deleted clip re-enters through the
    gate."""
    flat = str(tmp_path / "flat")
    AI.build_audio_index(spark, _media(spark), flat)
    streamed = str(tmp_path / "streamed")
    for b in range(2):
        AI.audio_index_ingest_batch(
            spark, _media(spark, f"doc_id % 2 = {b}"), b, streamed
        )
    assert _rows(spark, flat) == _rows(spark, streamed)
    ids = {d for d, _, _ in _rows(spark, flat)}
    assert 3 not in ids  # NULL text: no clip
    assert {4, 5} <= ids  # silent clips ARE indexed

    AI.audio_index_delete(spark, streamed, [0, 4])
    spark.catalog.refreshByPath(streamed)
    assert {d for d, _, _ in _rows(spark, streamed)} == ids - {0, 4}
    AI.audio_index_ingest_batch(spark, _media(spark, "doc_id = 4"), 2, streamed)
    spark.catalog.refreshByPath(streamed)
    assert {d for d, _, _ in _rows(spark, streamed)} == ids - {0}


def test_incremental_audio_dedup_matches_two_batch_oracle(spark) -> None:
    """Two-batch flow == the DuckDB s1/dup2/s2 oracle over the audio
    grid: the exact dup drops cross-batch, the second silent clip drops
    against the first (zero-fingerprint clips are true dups), and
    distinct clips survive."""
    import duckdb

    split = 1  # batch 1 = {0}; batch 2 = the rest
    docs = _docs(spark)
    m1 = MM.documents_as_audio(docs.filter(F.col("doc_id") < split))
    m2 = MM.documents_as_audio(docs.filter(F.col("doc_id") >= split))
    kept1, bands1 = AI.incremental_audio_dedup(spark, m1, None)
    kept2, _ = AI.incremental_audio_dedup(
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
            AI.incremental_audio_dedup_sql(X.DUCK, split)
        ).fetchall()
    )
    assert got == want
    kept_ids = {d for d, _ in got}
    assert 0 in kept_ids and 1 not in kept_ids  # cross-batch exact dup
    assert 4 in kept_ids and 5 not in kept_ids  # silent-clip group collapses
    assert {2, 6} <= kept_ids


def test_audio_dedup_stream_across_batches_and_replay(spark, tmp_path) -> None:
    """Streaming audio ingest: micro-batches fingerprint and gate against
    the persisted band index; no two survivors are within the Hamming
    threshold, the landed index is exactly the survivors' bands, and a
    replayed batch reproduces identical survivors."""
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
    J.run_audio_dedup_stream(
        spark, stream, kept_dir, index_dir, str(tmp_path / "cp")
    )

    kept_ids = {
        r["doc_id"]
        for r in spark.read.parquet(kept_dir).select("doc_id").collect()
    }
    landed = AI.read_audio_index(spark, index_dir)
    assert {r["doc_id"] for r in landed.select("doc_id").collect()} == kept_ids
    assert landed.count() == MM.DHASH_BANDS * len(kept_ids)

    # no two survivors within the Hamming threshold
    surv_docs = docs.join(
        spark.createDataFrame([(i,) for i in kept_ids], "doc_id long"),
        "doc_id",
        "left_semi",
    )
    surv_docs.createOrReplaceTempView("documents")
    assert MM.audio_near_dup_df(spark).count() == 0

    # replay convergence on the last arrival
    from pathlib import Path

    before_kept = sorted(kept_ids)
    last = max(
        int(p.name.split("=", 1)[1]) for p in Path(kept_dir).glob("batch_id=*")
    )
    replay_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{kept_dir}/batch_id={last}").collect()
    }
    parts = {i % 3 for i in replay_ids}
    assert len(parts) == 1
    replay_docs = docs.filter(F.col("doc_id") % 3 == parts.pop())
    J.ingest_audio_dedup_batch(spark, replay_docs, last, kept_dir, index_dir)
    spark.catalog.refreshByPath(kept_dir)
    spark.catalog.refreshByPath(index_dir)
    after_kept = sorted(
        r["doc_id"]
        for r in spark.read.parquet(kept_dir).select("doc_id").collect()
    )
    assert after_kept == before_kept


def test_audio_dup_clusters_matches_oracle(spark) -> None:
    """Cluster form == the recursive min-label oracle: the silent-clip
    zero group collapses to ONE cluster via the shared star reduction,
    exact dups merge, distinct clips stay singletons, one row per doc."""
    import duckdb

    spark.createDataFrame(
        ROWS, "doc_id long, text string"
    ).createOrReplaceTempView("documents")
    got = sorted(
        (r["doc_id"], r["cluster_id"], r["cluster_size"], r["is_canonical"])
        for r in MM.audio_dup_clusters_df(spark).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", ROWS)
    want = sorted(
        tuple(r)
        for r in con.execute(MM.audio_dup_clusters_sql(X.DUCK)).fetchall()
    )
    assert got == want
    by_doc = {d: c for d, c, _, _ in got}
    assert by_doc[0] == by_doc[1]  # exact dups merge
    assert by_doc[4] == by_doc[5]  # silent clips: one zero-group cluster
    assert len(got) == len(ROWS)


def test_spectral_gate_rejects_half_volume_reupload(spark, tmp_path) -> None:
    """The spectral index gate (round 11) catches the quantized
    half-volume re-upload the waveform gate admits: clip 0 lands in both
    standing indexes; its x DIV 2 twin then passes the WAVEFORM gate
    (adjacent-sample ties collapse, fingerprint drifts past Hamming 3)
    but is rejected by the SPECTRAL gate over the same machinery — the
    production contrast the fingerprint was added for."""
    import io
    import struct
    import wave

    def wav(samples: list[int]) -> bytes:
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(MM.AFP_RATE)
            w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
        return buf.getvalue()

    npts = MM.AFPS_T * MM.AFPS_K
    samp_idx = [(i * npts) // MM.AFP_WINDOWS for i in range(MM.AFP_WINDOWS)]
    xs = []
    for j in range(npts):
        t = j // MM.AFPS_K
        amp = 800 * ((t * 3) % 7 + 1)
        xs.append(amp * (1 if j % 2 else -1))
    for r, j in enumerate(samp_idx):
        xs[j] = 100 + r
    half = [x // 2 for x in xs]

    def media(rows):
        return spark.createDataFrame(
            [(i, p) for i, p in rows], "media_id long, payload binary"
        ).select(
            "media_id",
            "payload",
            F.struct(
                F.lit("audio/wav").alias("mime"),
                F.octet_length("payload").cast("long").alias("n_bytes"),
            ).alias("meta"),
        )

    b1 = media([(0, wav(xs))])
    # filler clip decorrelated in BOTH fingerprint spaces (hamming 51
    # waveform / 28 spectral vs clip 0 — a plain sawtooth is near-all-ones
    # under the waveform comparisons and would collide with the staircase)
    b2 = media(
        [(10, wav(half)),
         (11, wav([((i * 7919) % 2003) - 1000 for i in range(npts)]))]
    )

    for gate, build, expect in (
        (AI.incremental_audio_dedup, AI.build_audio_index, [10, 11]),
        (
            AI.incremental_audio_spectral_dedup,
            AI.build_audio_spectral_index,
            [11],
        ),
    ):
        idx = str(tmp_path / f"idx_{expect[0]}")
        build(spark, b1, idx)
        kept, _ = gate(spark, b2, AI.read_audio_index(spark, idx))
        # field-name check, not `"media_id" in r` — Row is a tuple subclass,
        # so `in` tests membership among the VALUES
        assert sorted(
            r["media_id"] if "media_id" in r.__fields__ else r["doc_id"]
            for r in kept.collect()
        ) == expect


def test_windowed_fp_is_trim_stable() -> None:
    """The core trim property, pure Python: cutting k*AFW_WIN_STRIDE
    samples off the front shifts every window index by exactly k and
    changes NO window's bands — the fixed-absolute-offset indexing that
    the whole shifted family rests on (the whole-clip fingerprints
    resample relative to length, so the same trim changes every band)."""
    import random

    rng = random.Random(42)
    xs = [rng.randrange(-3000, 3000) for _ in range(MM.AFW_CODES * 4)]
    base = dict(MM.audio_windowed_bands_from_samples(xs))
    for k in (1, 2):
        trimmed = dict(
            MM.audio_windowed_bands_from_samples(xs[k * MM.AFW_WIN_STRIDE:])
        )
        assert trimmed, "trimmed clip lost all windows"
        for w, bands in trimmed.items():
            assert bands == base[w + k], (k, w)
    # the whole-clip fingerprint is NOT trim-stable on the same signal
    assert MM.audio_fp_from_samples(xs) != MM.audio_fp_from_samples(
        xs[MM.AFW_WIN_STRIDE:]
    )


def test_shifted_gate_catches_front_trim_strict_gate_misses(
    spark, tmp_path
) -> None:
    """Contrast (the round-11 verdict's missing-capability #1): a
    re-upload with one window stride (16 codes) trimmed off the front is
    REJECTED by the shift-tolerant windowed gate but KEPT by the strict
    whole-clip waveform gate — and an unrelated clip passes both (no
    false positive from the wider shifted candidates)."""
    import random

    rng = random.Random(7)
    chars = "abcdefghijklmnopqrstuvwxyz0123456789 "
    base_text = "".join(rng.choice(chars) for _ in range(220))
    trimmed_text = base_text[16:]  # one AFW window stride
    other_text = "".join(rng.choice(chars) for _ in range(220))

    b1 = spark.createDataFrame([(10, base_text)], "doc_id long, text string")
    b2 = spark.createDataFrame(
        [(11, trimmed_text), (12, other_text)], "doc_id long, text string"
    )

    # shifted windowed gate: trim caught, unrelated kept
    idx = str(tmp_path / "widx")
    m1 = MM.documents_as_audio_windowed(b1)
    _k1, bands1 = AI.incremental_audio_shifted_dedup(spark, m1, None)
    from nqs_console_flink_window_spark.operators import image_index as II

    II.BANDS.ingest(bands1, 0, idx)
    m2 = MM.documents_as_audio_windowed(b2)
    kept2, _ = AI.incremental_audio_shifted_dedup(
        spark, m2, AI.read_audio_index(spark, idx)
    )
    assert sorted(r["doc_id"] for r in kept2.collect()) == [12]

    # strict whole-clip waveform gate: the SAME trim slips through
    sm1 = MM.documents_as_audio(b1)
    _sk1, sbands1 = AI.incremental_audio_dedup(spark, sm1, None)
    sidx = str(tmp_path / "sidx")
    II.BANDS.ingest(sbands1, 0, sidx)
    sm2 = MM.documents_as_audio(b2)
    skept2, _ = AI.incremental_audio_dedup(
        spark, sm2, AI.read_audio_index(spark, sidx)
    )
    assert sorted(r["doc_id"] for r in skept2.collect()) == [11, 12]


def test_shifted_cluster_form_groups_trimmed_twin(spark) -> None:
    """audio_dup_clusters_shifted (round 12 — the linear-output escape
    for corpus-scale trimmed-clip audits): a front-trimmed twin lands in
    the SAME cluster under the shifted cluster form, stays a singleton
    under the strict whole-clip cluster form, and the unrelated clip is
    a singleton under both (no false merge from the wider shifted
    candidates)."""
    import random

    rng = random.Random(11)
    chars = "abcdefghijklmnopqrstuvwxyz0123456789 "
    base_text = "".join(rng.choice(chars) for _ in range(220))
    docs = [
        (20, base_text),
        (21, base_text[16:]),  # one AFW window stride trimmed
        (22, "".join(rng.choice(chars) for _ in range(220))),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string"
    ).createOrReplaceTempView("documents")
    try:
        shifted = {
            r["doc_id"]: (r["cluster_id"], r["cluster_size"])
            for r in MM.audio_dup_clusters_shifted_df(spark).collect()
        }
        assert shifted[20] == (20, 2) and shifted[21] == (20, 2)
        assert shifted[22] == (22, 1)

        strict = {
            r["doc_id"]: r["cluster_size"]
            for r in MM.audio_dup_clusters_df(spark).collect()
        }
        assert strict == {20: 1, 21: 1, 22: 1}
    finally:
        spark.catalog.dropTempView("documents")
