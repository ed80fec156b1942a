"""Standing dHash image-dedup index (round 10) — the third persisted
index family, completing the pattern the text inverted index and the
IVF/IVF-PQ vector indexes already follow: a corpus-scale near-dup gate
cannot re-decode and re-hash history per ingest batch, so the BAND TABLE
(doc_id, band, bv) persists as parquet partitioned by ``bband`` (a
64-way arithmetic bucket of the band value), and every maintenance verb
reuses the shared machinery verbatim.

This module also HOSTS the shared verbs for the whole perceptual-hash
index family: the audio index (audio_index.py — same band shape,
different extractor) and the video index (video_index.py — frame axis
folded into the band key) ride ``bands_fn``/``grid_sql_fn`` hooks on
the verbs and gate below rather than copying them.

The lifecycle itself (the one ``bband=<b>/batch_id=<n>`` layout with
build/append in the -1 generation and replay-idempotent streamed
landings, the compaction fold, the staged-commit delete, the
emptiness-tolerant read and the cross-batch doc_id freshness probe) is
``sinks.index_table`` keyed by
``bband`` (``BANDS``); this module adds the band extractor, the
per-(doc_id, band) multiplicity contract and the near-dup gate.

Scale design (100 TB): an ingest batch decodes ONLY its own images (one
Arrow ``mapInPandas`` pass), its DHASH_BANDS x |batch| band rows
equi-join the index on (band, bv) — shuffle ~ batch + colliding index
rows, never a corpus pass — and verified near-dups (exact Hamming via
bit_count over candidate pairs, complete <= DHASH_MAX_HAMMING by the
pigeonhole rule) are dropped before the survivors' bands land.  The
documented bv=0 hot group is benign on this path: the batch side of the
probe is micro-batch-sized, so the candidate set is Ω(true collisions),
not |index-zero-group|^2 (the pair-QUERY's split prefilter handles the
corpus-wide form).

Reference parity: the reference's ingest-time dedup analogue is
ReplacingMergeTree-style last-write collapse at merge time; this is the
ingest-time, index-backed form the LLM-pipeline extension surface
standardizes (same shape as operators/dedup_text.incremental_dedup and
operators/similarity.incremental_embedding_dedup, applied to the
multimodal column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import dialect as X
from ..sinks import index_table as IT
from .multimodal import (
    DHASH_BANDS,
    DHASH_MAX_HAMMING,
    extract_dhash,
)

IMAGE_BANDS_BUCKETS = 64
# columns every probe/maintenance path consumes; bband is re-derivable
# from (band, bv) but stored so the scan's partition encoding IS the key
BANDS = IT.IndexTable(
    "bband", "doc_id", "doc_id bigint, band int, bv bigint, bband int"
)


def _bband_col():
    """64-way partition bucket of a band row — pure integer arithmetic
    (both engines could recompute it from (band, bv), so the partition
    encoding adds no modeling surface)."""
    return (
        (F.col("band").cast("bigint") * 65536 + F.col("bv"))
        % IMAGE_BANDS_BUCKETS
    ).cast("int")


def image_bands(media: DataFrame) -> DataFrame:
    """(doc_id, band, bv, bband) for a batch of images (media_id, payload,
    meta) — the decode+hash pass, run ONCE per batch.  Undecodable
    payloads are excluded: their bands are meaningless zeros, and indexing
    them would dump every broken payload into the bv=0 hot group."""
    return (
        extract_dhash(media)
        .filter(F.col("decode_ok"))
        .select(
            F.col("media_id").alias("doc_id"),
            "band",
            "bv",
            _bband_col().alias("bband"),
        )
    )


def _assert_fresh_bands(
    spark, bands: DataFrame, path: str, where: str,
    exclude_batch_id: int | None = None,
) -> None:
    """The band table's batch contract.  Intra-batch (this family's own
    check): a repeated image would land duplicate band rows — every future
    probe would double-count its collisions and near-dup verdicts would
    silently drift.  Per-(doc_id, band) multiplicity is exact for images
    (4 distinct bands each, a repeat doubles every one) AND for the video
    family, whose frame-augmented band tables legitimately carry a
    variable number of rows per doc (content frames only).  Cross-batch:
    the index table's freshness probe."""
    dup = (
        bands.groupBy("doc_id", "band")
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
    )
    if dup.count() > 0:
        raise ValueError(
            f"{where}: batch repeats a doc_id — duplicate band rows would "
            "double-count collisions in every probe; dedup the batch "
            "before indexing"
        )
    ids = bands.select("doc_id").distinct()
    BANDS.assert_fresh(
        spark, path, ids, IT.probe_head(ids, "doc_id"), where, exclude_batch_id
    )


def build_image_index(
    spark, media: DataFrame, path: str, bands_fn=None
) -> None:
    """Materialize the band table partitioned by ``bband`` — the offline
    bulk build.  Once stored bucketed, an ingest probe's (band, bv) keys
    prune at the file listing (the build_text_index argument applied to
    the perceptual hash).  ``bands_fn`` swaps the band extractor (the
    video family rides these verbs with its frame-augmented band space —
    video_index.py)."""
    BANDS.build((bands_fn or image_bands)(media), path)


def image_index_append(
    spark, path: str, media: DataFrame, bands_fn=None
) -> None:
    """Incremental maintenance: hash NEW images and append their bands
    into the bband partitions' -1 generation (small-file debt settled by
    ``compact_image_index``)."""
    bands = (bands_fn or image_bands)(media)
    _assert_fresh_bands(spark, bands, path, "image_index_append")
    BANDS.append(bands, path)


def image_index_ingest_batch(
    bspark, batch_media: DataFrame, batch_id: int, path: str, bands_fn=None
) -> None:
    """One micro-batch's landing — the REPLAY-IDEMPOTENT streaming form:
    an at-least-once replay overwrites exactly its own (bband, batch)
    slices instead of double-appending."""
    bands = (bands_fn or image_bands)(batch_media).localCheckpoint()
    _assert_fresh_bands(
        bspark, bands, path, "image_index_ingest_batch",
        exclude_batch_id=batch_id,
    )
    BANDS.ingest(bands, batch_id, path)


# layout-only verbs: the index table's lifecycle, verbatim (they never
# look at band semantics — audio_index/video_index re-export them)
compact_image_index = compact_streamed_image_index = BANDS.compact
image_index_delete = BANDS.delete


def read_image_index(spark, path: str) -> DataFrame:
    """The band table, emptiness-tolerant (an emptied index stays
    probe-able)."""
    return BANDS.read(spark, path)


def incremental_image_dedup(
    spark, media: DataFrame, index_bands: DataFrame | None, bands_fn=None
) -> tuple[DataFrame, DataFrame]:
    """Dedup a batch of images against the persisted band ``index_bands``
    (None for the first batch) and within the batch — the ingest-time
    near-dup gate: an image is dropped iff a VERIFIED near-dup (exact
    Hamming <= DHASH_MAX_HAMMING over the full hash — candidates from the
    (band, bv) equi-join are provably complete by pigeonhole) exists in
    the index or at a SMALLER doc_id in the same batch (the
    dedup_text.incremental_dedup convention, with the text family's
    any-band-collision rule upgraded to verified Hamming — a shared
    16-bit band alone admits pairs up to Hamming 48).

    Returns ``(kept_ids, kept_bands)``: land ``kept_bands`` (``BANDS.ingest``
    / ``BANDS.append``) to admit the batch into the index."""
    from .staging import staged_views

    nb = (bands_fn or image_bands)(media).localCheckpoint()
    # round-12 asymmetric fusion: the BATCH side's full fingerprint rides
    # along as DHASH_BANDS window-sum columns (fp0..fp3 — a window over
    # the batch-scale nb only; a window over the INDEX side would force
    # an index-wide shuffle per micro-batch), carried through the
    # candidate join, so the verify needs ONE targeted re-join (gather
    # the collided index doc's bands inside the per-pair group) instead
    # of two.  Identical: the input contract gives every doc exactly
    # DHASH_BANDS rows, so the conditional SUMs rebuild the index doc's
    # bands exactly.
    fp_cols = ", ".join(
        f"CAST(SUM(CASE WHEN band = {j} THEN bv END) "
        f"OVER (PARTITION BY doc_id) AS BIGINT) AS fp{j}"
        for j in range(DHASH_BANDS)
    )
    nfp_sel = ", ".join(f"a.fp{j} AS nfp{j}" for j in range(DHASH_BANDS))
    ham = " + ".join(
        "bit_count(%s)"
        % X.xor(
            X.SPARK,
            f"MIN(c.nfp{j})",
            f"SUM(CASE WHEN b.band = {j} THEN b.bv END)",
        )
        for j in range(DHASH_BANDS)
    )

    def _dup_ids(views, right, right_cond: str) -> DataFrame:
        return spark.sql(f"""
WITH nfp AS (
  SELECT doc_id, band, bv, {fp_cols}
  FROM {views.nb}
),
cand AS (
  SELECT DISTINCT a.doc_id AS nd, {nfp_sel}, b.doc_id AS xd
  FROM nfp a JOIN {right} b
    ON a.band = b.band AND a.bv = b.bv{right_cond}
),
hams AS (
  SELECT c.nd, c.xd,
    CAST({ham} AS BIGINT) AS hamming
  FROM cand c
  JOIN {right} b ON b.doc_id = c.xd
  GROUP BY c.nd, c.xd
)
SELECT DISTINCT nd AS doc_id FROM hams
WHERE hamming <= {DHASH_MAX_HAMMING}
""")

    stage = {"nb": nb}
    if index_bands is not None:
        stage["idx"] = index_bands.select("doc_id", "band", "bv")
    with staged_views(spark, checkpoint=False, **stage) as v:
        # in-batch: a (the dropped side, nd) near-dups a SMALLER b
        dup_ids = _dup_ids(v, v.nb, " AND a.doc_id > b.doc_id")
        if index_bands is not None:
            dup_ids = dup_ids.unionByName(
                _dup_ids(v, v.idx, "")
            ).distinct()
        dup_ids = dup_ids.localCheckpoint()
    kept_bands = nb.join(dup_ids, "doc_id", "left_anti")
    kept_ids = kept_bands.select("doc_id").distinct()
    return kept_ids, kept_bands


def incremental_image_dedup_sql(
    d: str, split: int | str, table: str = "documents", grid_sql_fn=None
) -> str:
    """DuckDB oracle of the registered two-batch flow: bands recomputed
    from text (the image family's standing oracle device), candidate +
    verified-Hamming pairs over ALL docs once, then the s1/dup2/s2
    pattern of ``_incremental_dedup_sql`` — batch 2 is dropped against
    batch 1's SURVIVORS (= the persisted index's content) or a smaller-id
    batch-2 doc (survivor or not, the engine's convention)."""
    from .multimodal import _dhash_cand_ham_ctes, dhash_grid_sql

    grid = (grid_sql_fn or dhash_grid_sql)(d, table)
    return f"""
WITH {grid.strip()},
{_dhash_cand_ham_ctes(d, "bands").strip()},
nd AS (SELECT doc_a, doc_b FROM ham WHERE hamming <= {DHASH_MAX_HAMMING}),
dup1 AS (SELECT DISTINCT doc_b AS doc_id FROM nd WHERE doc_b < {split}),
s1 AS (
  SELECT DISTINCT doc_id FROM bands WHERE doc_id < {split}
  EXCEPT SELECT doc_id FROM dup1
),
dup2 AS (
  SELECT DISTINCT doc_b AS doc_id FROM nd
  WHERE doc_b >= {split}
    AND (doc_a IN (SELECT doc_id FROM s1) OR doc_a >= {split})
),
s2 AS (
  SELECT DISTINCT doc_id FROM bands WHERE doc_id >= {split}
  EXCEPT SELECT doc_id FROM dup2
)
SELECT doc_id, 1 AS batch FROM s1
UNION ALL
SELECT doc_id, 2 AS batch FROM s2
ORDER BY doc_id
"""
