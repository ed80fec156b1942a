"""The standing dHash image index (operators/image_index.py, round 10):
lifecycle verbs, replay idempotence, streamed==batch parity, deletion,
compaction, mixed build/append/ingest landings — the third index family
held to the same contracts the text and IVF/IVF-PQ indexes are fuzz- and
pytest-pinned to.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from nqs_console_flink_window_spark.config import SMOKE_SF_DIR
from nqs_console_flink_window_spark.operators import image_index as II
from nqs_console_flink_window_spark.operators import multimodal as MM
from nqs_console_flink_window_spark.sources.batch import load_table


def _media(spark, pred: str):
    docs = load_table(spark, SMOKE_SF_DIR, "documents").filter(pred)
    return MM.documents_as_images(docs.select("doc_id", "text"))


def _rows(spark, path):
    return sorted(
        (r["doc_id"], r["band"], r["bv"])
        for r in II.read_image_index(spark, path).collect()
    )


def test_image_index_streamed_matches_build_replays_and_compacts(
    spark, tmp_path
) -> None:
    """Three micro-batch ingests hold the SAME rows as one bulk build; a
    replayed batch overwrites its own (bband, batch) slices instead of
    double-appending; streamed compaction folds files below the watermark
    without changing a row; appends and streamed ingests mix in one
    layout."""
    idx = str(tmp_path / "imgidx")
    for b in range(3):
        II.image_index_ingest_batch(
            spark, _media(spark, f"doc_id % 3 = {b}"), b, idx
        )
    flat = str(tmp_path / "imgidx_flat")
    II.build_image_index(spark, _media(spark, "true"), flat)
    want = _rows(spark, flat)
    assert _rows(spark, idx) == want

    # at-least-once replay: batch 1 lands again, rows unchanged
    II.image_index_ingest_batch(spark, _media(spark, "doc_id % 3 = 1"), 1, idx)
    spark.catalog.refreshByPath(idx)
    assert _rows(spark, idx) == want

    # streamed compaction (upto is EXCLUSIVE — fold all 3 landed batches):
    # pure layout change
    II.compact_streamed_image_index(spark, idx, 3)
    spark.catalog.refreshByPath(idx)
    assert _rows(spark, idx) == want
    # everything below the watermark folded into the -1 generation
    for sub in Path(idx).glob("bband=*"):
        gens = {p.name for p in sub.glob("batch_id=*")}
        assert gens == {"batch_id=-1"}, (sub, gens)

    # one layout: an append into the streamed index and a streamed ingest
    # into the built one both land beside the existing rows, each matching
    # a full rebuild over the same images
    def fresh(*ids):
        return MM.documents_as_images(
            spark.createDataFrame(
                [(i, f"fresh appended image text {i}") for i in ids],
                "doc_id long, text string",
            )
        )

    II.image_index_append(spark, idx, fresh(100001, 100002))
    II.image_index_ingest_batch(spark, fresh(100001, 100002), 9, flat)
    full = str(tmp_path / "imgidx_full")
    II.build_image_index(
        spark, _media(spark, "true").unionByName(fresh(100001, 100002)), full
    )
    want = _rows(spark, full)
    spark.catalog.refreshByPath(idx)
    spark.catalog.refreshByPath(flat)
    assert _rows(spark, idx) == want
    assert _rows(spark, flat) == want

    # compaction folds append debt and the landings below the watermark
    # down to one -1 file per bucket
    II.image_index_append(spark, flat, fresh(100003, 100004))
    II.compact_image_index(spark, flat, 10)
    spark.catalog.refreshByPath(flat)
    for sub in Path(flat).glob("bband=*"):
        assert [p.name for p in sub.glob("batch_id=*")] == ["batch_id=-1"], sub
        assert len(list(sub.rglob("*.parquet"))) == 1, sub


def test_image_index_fresh_probe_rejects_null_id_in_oversized_batch(
    spark, tmp_path, monkeypatch
) -> None:
    """A NULL doc_id in a batch above the freshness probe's IN-list bound
    (lowered here to reach the distributed branch) raises the same
    contract error as in a bounded batch, instead of landing band rows no
    probe or delete can ever match."""
    from nqs_console_flink_window_spark.sinks import index_table as IT

    idx = str(tmp_path / "imgidx")
    II.image_index_ingest_batch(spark, _media(spark, "doc_id < 5"), 0, idx)
    bands = II.image_bands(_media(spark, "doc_id >= 10 AND doc_id < 13"))
    with_null = bands.withColumn(
        "doc_id",
        F.when(F.col("doc_id") == 11, F.lit(None)).otherwise(F.col("doc_id")),
    )
    monkeypatch.setattr(IT, "_FRESH_PROBE_INLIST", 2)
    with pytest.raises(ValueError, match="NULL or non-integer"):
        II.image_index_ingest_batch(
            spark, with_null, 1, idx, bands_fn=lambda b: b
        )


def test_image_index_fresh_id_contract_and_delete(spark, tmp_path) -> None:
    """Duplicate-ingest refusal (intra-batch and cross-batch, replay
    exempt), compliance deletion through the shared staged-commit core,
    delete-all leaves a queryable empty index, and re-ingest after
    delete-all works (the fuzz-found text/ivf regression class)."""
    idx = str(tmp_path / "imgidx")
    II.image_index_ingest_batch(spark, _media(spark, "doc_id < 30"), 0, idx)

    # intra-batch repeat
    twice = _media(spark, "doc_id = 40").unionByName(_media(spark, "doc_id = 40"))
    with pytest.raises(ValueError, match="repeats a doc_id"):
        II.image_index_ingest_batch(spark, twice, 1, idx)
    # cross-batch re-ingest under a NEW batch id refuses...
    with pytest.raises(ValueError, match="re-ingests"):
        II.image_index_ingest_batch(spark, _media(spark, "doc_id = 5"), 1, idx)
    # ...while the replay (same batch id) passed in the parity test above

    # targeted deletion
    II.image_index_delete(spark, idx, [3, 7, 11])
    spark.catalog.refreshByPath(idx)
    left = {r["doc_id"] for r in II.read_image_index(spark, idx).collect()}
    assert left.isdisjoint({3, 7, 11}) and 4 in left

    # delete-all -> empty but probe-able -> re-ingest converges
    II.image_index_delete(spark, idx, sorted(left))
    spark.catalog.refreshByPath(idx)
    assert II.read_image_index(spark, idx).count() == 0
    II.image_index_ingest_batch(spark, _media(spark, "doc_id < 10"), 2, idx)
    spark.catalog.refreshByPath(idx)
    assert (
        II.read_image_index(spark, idx).select("doc_id").distinct().count()
        == 10
    )


def test_incremental_image_dedup_streamed_matches_batch(spark, tmp_path) -> None:
    """Stream==batch parity for the ingest-time gate: pushing the corpus
    through per-batch incremental_image_dedup + index landings admits
    exactly the docs the ONE-SHOT rule admits (the registered query's
    oracle semantics), and the landed index equals the kept bands."""
    docs = load_table(spark, SMOKE_SF_DIR, "documents").select("doc_id", "text")
    idx = str(tmp_path / "gate")
    survivors: dict[int, int] = {}
    for b, pred in enumerate(("doc_id < 150", "doc_id >= 150 AND doc_id < 300", "doc_id >= 300")):
        media = MM.documents_as_images(docs.filter(pred))
        kept, bands = II.incremental_image_dedup(
            spark, media, II.read_image_index(spark, idx) if b else None
        )
        II.BANDS.ingest(bands, b, idx)
        spark.catalog.refreshByPath(idx)
        for r in kept.collect():
            survivors[r["doc_id"]] = b

    # batch twin: same split points, in-memory bands (no persistence)
    mem_bands = None
    mem: dict[int, int] = {}
    for b, pred in enumerate(("doc_id < 150", "doc_id >= 150 AND doc_id < 300", "doc_id >= 300")):
        media = MM.documents_as_images(docs.filter(pred))
        kept, bands = II.incremental_image_dedup(spark, media, mem_bands)
        mem_bands = bands if mem_bands is None else mem_bands.unionByName(bands)
        mem_bands = mem_bands.localCheckpoint()
        for r in kept.collect():
            mem[r["doc_id"]] = b
    assert survivors == mem
    landed = {
        r["doc_id"] for r in II.read_image_index(spark, idx).collect()
    }
    assert landed == set(survivors)
    # the index holds exactly DHASH_BANDS rows per survivor
    assert II.read_image_index(spark, idx).count() == MM.DHASH_BANDS * len(
        survivors
    )


def test_incremental_image_dedup_drops_near_dups_not_exact_only(spark) -> None:
    """The gate verifies HAMMING, not band identity: a Hamming-2 variant
    of an indexed image is dropped, a Hamming-8 one that still shares a
    band survives (the text family's any-band-collision rule would have
    wrongly dropped it — hamming verify is the upgrade this family adds)."""
    base = "abcdefghij" * 8  # gradient-rich, fills the whole grid
    ham2 = "azcdefghij" + base[10:]  # one cell bumped -> 2 bit flips max
    # flip cells in ROW 7 only: band 3 changes, bands 0-2 still match
    far = base[:63] + "zzzzzzzzz"
    rows = [(0, base), (10, ham2), (20, far)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    m0 = MM.documents_as_images(docs.filter("doc_id = 0"))
    rest = MM.documents_as_images(docs.filter("doc_id > 0"))
    _, bands0 = II.incremental_image_dedup(spark, m0, None)
    kept, _ = II.incremental_image_dedup(spark, rest, bands0)
    kept_ids = {r["doc_id"] for r in kept.collect()}
    b = {
        r["doc_id"]: r["bv"]
        for r in bands0.unionByName(II.image_bands(rest)).filter("band = 0").collect()
    }
    # sanity on the fixture construction
    h2 = MM.decode_dhash(MM.encode_ppm_gray(MM._fixture_grid(ham2)), "image/ppm")
    h0 = MM.decode_dhash(MM.encode_ppm_gray(MM._fixture_grid(base)), "image/ppm")
    hf = MM.decode_dhash(MM.encode_ppm_gray(MM._fixture_grid(far)), "image/ppm")
    d2 = sum(bin(a ^ c).count("1") for a, c in zip(h0, h2))
    df_ = sum(bin(a ^ c).count("1") for a, c in zip(h0, hf))
    shared = any(a == c for a, c in zip(h0, hf))
    assert d2 <= MM.DHASH_MAX_HAMMING < df_ and shared, (d2, df_, shared, b)
    assert kept_ids == {20}


def test_image_dedup_stream_across_batches_and_replay(spark, tmp_path) -> None:
    """Streaming image ingest (round 10): three micro-batches decode and
    near-dup-gate against the persisted dHash band index; the final
    survivor set matches the sequential batch composition exactly, no two
    survivors are within DHASH_MAX_HAMMING (the cross-batch guarantee),
    the landed index is exactly the survivors' bands, and an at-least-once
    replay of a batch reproduces identical survivors (the index read
    excludes its own landings)."""
    from nqs_console_flink_window_spark.streaming import jobs as J

    docs = load_table(spark, SMOKE_SF_DIR, "documents").select("doc_id", "text")
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
    J.run_image_dedup_stream(
        spark, stream, kept_dir, index_dir, str(tmp_path / "cp")
    )

    kept_ids = {
        r["doc_id"] for r in spark.read.parquet(kept_dir).select("doc_id").collect()
    }
    landed = II.read_image_index(spark, index_dir)
    assert {r["doc_id"] for r in landed.select("doc_id").collect()} == kept_ids
    assert landed.count() == MM.DHASH_BANDS * len(kept_ids)

    # no two survivors within the Hamming threshold — order-independent
    surv = MM.documents_as_images(
        docs.join(
            spark.createDataFrame([(i,) for i in kept_ids], "doc_id long"),
            "doc_id",
            "left_semi",
        )
    )
    bands = II.image_bands(surv).localCheckpoint()
    bands.createOrReplaceTempView("__surv_bands")
    from nqs_console_flink_window_spark.functions import dialect as X
    from nqs_console_flink_window_spark.operators.multimodal import (
        _dhash_cand_ham_ctes,
    )

    n_close = spark.sql(
        "WITH " + _dhash_cand_ham_ctes(X.SPARK, "__surv_bands").strip()
        + f" SELECT COUNT(*) AS n FROM ham WHERE hamming <= {MM.DHASH_MAX_HAMMING}"
    ).first()["n"]
    spark.catalog.dropTempView("__surv_bands")
    assert n_close == 0

    # replay convergence: re-ingest one arrival's content under its own
    # batch id — survivors and index rows must not change
    before_kept = sorted(kept_ids)
    arrivals = sorted(
        int(p.name.split("=", 1)[1])
        for p in __import__("pathlib").Path(kept_dir).glob("batch_id=*")
    )
    last = arrivals[-1]
    replay_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{kept_dir}/batch_id={last}").collect()
    }
    # the arrival's full content = the partition file the stream fed it;
    # recover it from the kept+dropped union: every doc of that part value
    part_of = {r["doc_id"]: r["doc_id"] % 3 for r in docs.select("doc_id").collect()}
    # find which part this batch carried (all its survivors share it)
    parts = {part_of[i] for i in replay_ids}
    assert len(parts) == 1
    replay_docs = docs.filter(F.col("doc_id") % 3 == parts.pop())
    J.ingest_image_dedup_batch(spark, replay_docs, last, kept_dir, index_dir)
    spark.catalog.refreshByPath(kept_dir)
    spark.catalog.refreshByPath(index_dir)
    after_kept = sorted(
        r["doc_id"] for r in spark.read.parquet(kept_dir).select("doc_id").collect()
    )
    assert after_kept == before_kept
    assert II.read_image_index(spark, index_dir).count() == MM.DHASH_BANDS * len(
        before_kept
    )


def test_audio_near_dup_matches_oracle_and_is_gain_invariant(spark) -> None:
    """The audio fingerprint family (round 10): engine pairs over REAL
    synthesized WAVs equal the DuckDB text-recomputed oracle on a hostile
    corpus (exact dups, newline/multi-byte text, NULL text, silent clips
    — the zero-variance audio hot group routed through the shared split);
    and the fingerprint is GAIN-invariant (scaling every sample leaves
    the comparisons, hence the bands, unchanged)."""
    import duckdb

    from nqs_console_flink_window_spark.functions import dialect as X

    rows = [
        (0, "alpha beta\ngamma delta " * 3),
        (1, "alpha beta\ngamma delta " * 3),   # exact dup of 0
        (2, "café au lait résumé " * 4),       # multi-byte chars
        (3, None),                              # NULL text: no clip
        (4, "s" * 50),                          # silent/constant clip
        (5, "t" * 70),                          # another zero-variance clip
        (6, "completely different filler words that vary a lot here ok"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView(
        "documents"
    )
    got = [
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in MM.audio_near_dup_df(spark).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = [tuple(r) for r in con.execute(MM.audio_near_dup_sql(X.DUCK)).fetchall()]
    assert got == want
    assert (0, 1, 0) in got           # the exact dup surfaces
    assert (4, 5, 0) in got           # the zero-variance group pairs
    assert not any(3 in (a, b) for a, b, _ in got)

    # gain invariance: halve the amplitude (no int16 clipping — doubling
    # would clamp at 32767 and genuinely collapse the order), same bands
    import struct

    codes = MM._audio_codes(rows[6][1])
    base = MM.decode_audio_fp(MM.encode_wav_codes(codes), "audio/wav")
    xs = MM._wav_samples(MM.encode_wav_codes(codes))
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(MM.AFP_RATE)
        w.writeframes(struct.pack(f"<{len(xs)}h", *(x // 2 for x in xs)))
    assert MM.decode_audio_fp(buf.getvalue(), "audio/wav") == base
    # and the dispatch refuses a non-audio payload
    with pytest.raises(ValueError):
        MM.decode_audio_fp(MM.encode_ppm_gray(MM._fixture_grid("abc")), "image/ppm")


def test_audio_spectral_contrast_and_oracle(spark) -> None:
    """The SPECTRAL audio fingerprint (round 11): engine pairs over the
    REAL WAV fixture equal the DuckDB text-recomputed oracle on the same
    hostile corpus as the waveform test; and the CONTRAST the round-10
    verdict asked for — a QUANTIZED half-volume twin (x -> x DIV 2, the
    common re-encode transform) is caught by the spectral code (hamming
    0: band energies scale ~g^2 in aggregate) but missed by the waveform
    fingerprint (adjacent-sample ties collapse under integer halving:
    hamming far beyond the near-dup threshold)."""
    import duckdb

    from nqs_console_flink_window_spark.functions import dialect as X

    rows = [
        (0, "alpha beta\ngamma delta " * 3),
        (1, "alpha beta\ngamma delta " * 3),   # exact dup of 0
        (2, "café au lait résumé " * 4),       # multi-byte chars
        (3, None),                              # NULL text: no clip
        (4, "s" * 50),                          # silent/constant clip
        (5, "t" * 70),                          # another zero-variance clip
        (6, "completely different filler words that vary a lot here ok"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").createOrReplaceTempView(
        "documents"
    )
    got = [
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in MM.audio_near_dup_spectral_df(spark).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = [
        tuple(r)
        for r in con.execute(MM.audio_near_dup_spectral_sql(X.DUCK)).fetchall()
    ]
    assert got == want
    assert (0, 1, 0) in got           # the exact dup surfaces
    assert not any(3 in (a, b) for a, b, _ in got)

    # amplitude contrast: sampled points form a +1 staircase from an even
    # base (waveform-fragile: integer halving collapses every other
    # comparison), the rest of the signal carries strong per-window
    # alternating energy (spectral-robust)
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

    def ham(a: list[int], b: list[int]) -> int:
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    wf = ham(MM.audio_fp_from_samples(xs), MM.audio_fp_from_samples(half))
    sp = ham(
        MM.audio_spectral_bands_from_samples(xs),
        MM.audio_spectral_bands_from_samples(half),
    )
    assert sp == 0                      # spectral: caught (exact match)
    assert wf > MM.DHASH_MAX_HAMMING    # waveform: missed (measured 32)
