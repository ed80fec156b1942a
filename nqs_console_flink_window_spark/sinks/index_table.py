"""The standing-index table: ONE lifecycle for every partitioned index the
LLM-data extensions persist — text postings (``tbucket``), IVF/IVF-PQ
vectors (``cell``) and the image/audio/video dHash bands (``bband``), plus
the text index's unkeyed doclen and stats sidecars (``key=None``).

An index is parquet in ONE layout, ``<key>=N/batch_id=M/`` (``batch_id=M/``
for an unkeyed table): every landing is a (key, batch) slice.

- ``ingest`` lands micro-batch M with DYNAMIC partition overwrite, so an
  at-least-once replay overwrites exactly its own slices instead of
  double-appending (the per-epoch idempotent sink the exactly-once
  streaming contract rests on);
- ``build`` and ``append`` land in the reserved ``batch_id=-1`` generation
  (``sinks.writers.COMPACTED_GEN``) — below every real batch id, so a
  streamed ingest into a built index and an append into a streamed one
  both keep the ``batch_id < N`` reads exact;
- ``compact`` folds the -1 generation plus the batches below a committed
  watermark into -1, per key dir (``compact_batch_landings``: fold
  manifests, crash repair);
- ``delete`` rewrites only the (key, batch) slices holding the ids under
  the staged delete manifest (``delete_rows_partitioned``).

Reads tolerate a fully-emptied index; the cross-batch id-freshness probe
lives here so every family enforces one contract.

A family owns only what is its own: how rows are produced (tokenize /
assign cell / hash bands), its side artifacts (centroids, codebooks,
per-slice text stats) and its intra-batch contract checks.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from .writers import (
    COMPACTED_GEN,
    compact_batch_landings,
    delete_rows_partitioned,
)

_FRESH_PROBE_INLIST = 10_000  # max ids inlined as a pushed-down IN filter


def probe_head(df: DataFrame, *cols) -> list | None:
    """Collect ``cols`` of a batch for the bounded freshness probe: the
    rows when the batch has at most ``_FRESH_PROBE_INLIST`` of them, None
    when it is larger (the probe then runs distributed).  A caller may
    ride extra columns on the same collect (the text family's NULL-text
    flag), so the per-batch contract costs one driver collect."""
    head = df.select(*cols).limit(_FRESH_PROBE_INLIST + 1).collect()
    return head if len(head) <= _FRESH_PROBE_INLIST else None


def _spark_visible_parquet(path: str) -> bool:
    """Whether Spark's FileIndex would list any parquet file under
    ``path``: underscore/dot-prefixed path segments (``__delete_staging``,
    fold staging, metadata dirs) are invisible to Spark, so a crashed
    delete's staged files must not make an otherwise-emptied index look
    non-empty (the read would then fail schema inference at query time)."""
    root = Path(path)
    return any(
        not any(seg.startswith(("_", ".")) for seg in p.relative_to(root).parts)
        for p in root.rglob("*.parquet")
    )


@dataclass(frozen=True)
class IndexTable:
    """One index family's table: ``key`` is the partition column (None for
    a table partitioned by ``batch_id`` alone), ``id_col`` the row
    identity deletes and freshness probes match on, ``schema`` the data
    columns (``batch_id`` excluded) an emptied table still exposes."""

    key: str | None
    id_col: str
    schema: str

    def _dirs(self, path: str) -> list[Path]:
        """The table's key directories: every ``<key>=<int>`` dir, or the
        root itself for an unkeyed table."""
        root = Path(path)
        if self.key is None:
            return [root]
        out = []
        for sub in sorted(root.glob(f"{self.key}=*")):
            try:
                int(sub.name.split("=", 1)[1])
            except ValueError:
                continue
            out.append(sub)
        return out

    def _pcols(self) -> list[str]:
        return [self.key, "batch_id"] if self.key else ["batch_id"]

    def _tagged(self, rows: DataFrame, batch_id: int) -> DataFrame:
        return rows.withColumn("batch_id", F.lit(int(batch_id)).cast("long"))

    def _aligned(self, rows: DataFrame) -> DataFrame:
        """Key-aligned rows: each slice lands as ONE file instead of one
        sliver per upstream task (tasks x partitions tiny files; measured
        1534 -> 48 on the sf0.1 video index), so every later pruned read
        lists one file per slice.  An unkeyed landing is batch-scale, so
        it coalesces to one file."""
        return rows.repartition(self.key) if self.key else rows.coalesce(1)

    def build(self, rows: DataFrame, path: str) -> None:
        """The offline bulk build: overwrite ``path`` with ``rows`` as the
        -1 generation.  An unkeyed table keeps the upstream write
        parallelism.  At 100 TB one file per key would be oversized —
        there the knob is adding a salt to the alignment key, which
        spreads a key over many tasks while keeping every file
        slice-pure."""
        self.replace(self._tagged(rows, COMPACTED_GEN), path)

    def replace(self, rows: DataFrame, path: str) -> None:
        """Overwrite the whole table with ``rows``, which carry their own
        ``batch_id`` — slices absent from ``rows`` are gone afterwards."""
        if self.key:
            rows = rows.repartition(self.key)
        rows.write.mode("overwrite").partitionBy(*self._pcols()).parquet(path)

    def append(self, rows: DataFrame, path: str) -> None:
        """Incremental landing into the -1 generation (small-file debt is
        settled by ``compact``).  Not replay-safe — that is the batch-job
        path."""
        self._aligned(self._tagged(rows, COMPACTED_GEN)).write.mode(
            "append"
        ).partitionBy(*self._pcols()).parquet(path)

    def ingest(self, rows: DataFrame, batch_id: int, path: str) -> None:
        """One micro-batch's replay-idempotent landing under
        ``<key>=N/batch_id=<batch_id>`` with dynamic partition overwrite.
        The key stays the top-level partition, so key pruning holds; the
        ``batch_id`` level only subdivides files inside a partition."""
        (
            self._aligned(self._tagged(rows, batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*self._pcols())
            .parquet(path)
        )

    def compact(
        self, spark, path: str, upto_batch_id: int = 0
    ) -> dict[str, int]:
        """Fold each key dir's -1 generation and its ``batch_id`` landings
        in ``[0, upto_batch_id)`` into one -1 generation —
        ``compact_batch_landings`` per key dir, so the watermark-coupling
        contract (``upto_batch_id`` at or below the committed watermark),
        the fold-manifest crash safety and the replay-ownership rule are
        inherited verbatim.  The default folds only the -1 generation (the
        small files ``append`` leaves).  Rows and key pruning hold.
        Returns ``{key_dir: file_count}``."""
        return {
            sub.name: compact_batch_landings(spark, str(sub), upto_batch_id)
            for sub in self._dirs(path)
        }

    def delete(self, spark, path: str, ids) -> tuple[int, int] | None:
        """Compliance deletion: remove every row whose id is in ``ids`` by
        targeted rewrite of only the (key, batch) slices holding them,
        under the staged-commit manifest (``delete_rows_partitioned`` —
        idempotent, crash-convergent, bulk semi-join above its IN-list
        bound).  A fully-emptied slice's directory disappears.  Returns
        the core's (affected, emptied) counts, or None when the table
        holds no data."""
        if not _spark_visible_parquet(path):
            return None
        return delete_rows_partitioned(
            spark, path, self.id_col, ids, self._pcols()
        )

    def read(
        self, spark, path: str, before: int | None = None
    ) -> DataFrame | None:
        """Emptiness-tolerant read: a delete of every row removes every
        slice dir, so ``spark.read`` could not infer a schema from the
        bare root — an emptied index must stay QUERYABLE (zero results),
        not raise (the round-9 lifecycle fuzz's [ingest, delete-all,
        query]).

        ``before=N`` is the streaming gate's view: the rows landed by
        batches below N, or None when nothing has landed yet.  ``<`` not
        ``!=`` — a replay of batch N must not see its own first attempt's
        rows (self-duplicate wipeout), and the -1 generation stays below
        every real batch id."""
        if not _spark_visible_parquet(path):
            if before is not None:
                return None
            return spark.createDataFrame([], f"{self.schema}, batch_id int")
        df = spark.read.parquet(path)
        if before is None:
            return df
        return df.filter(F.col("batch_id") < int(before))

    def assert_fresh(
        self,
        spark,
        path: str,
        ids: DataFrame,
        head: list | None,
        where: str,
        exclude_batch_id: int | None = None,
    ) -> None:
        """The cross-batch id-uniqueness contract: a re-ingested id would
        land duplicate rows that every later probe and score double-counts.
        ``ids`` is the batch's id column, ``head`` its ``probe_head``
        collect (None above the bound).

        Bounded batches probe with an IN-list — a pushed-down literal
        filter the parquet scan prunes with row-group min/max stats, so
        the cost tracks the BATCH, not the index (a semi-join would scan
        the whole index every micro-batch).  Oversized batches fall back
        to the semi-join.  Either way a NULL or non-integer id raises the
        contract error: a NULL id can never be probed and would silently
        never clash.  ``exclude_batch_id`` exempts the rows a replay is
        about to overwrite (its own slices are replaced, not duplicated)."""
        c = self.id_col
        if head == []:
            return  # empty batch — nothing to clash
        if head is not None:
            bad_id = any(type(r[c]) is not int for r in head)
        else:
            bad_id = not isinstance(ids.schema[c].dataType, IntegralType) or (
                ids.filter(F.col(c).isNull()).limit(1).count() > 0
            )
        if bad_id:
            raise ValueError(
                f"{where}: batch carries a NULL or non-integer {c} — {c} is "
                "the index's BIGINT key by contract (a NULL id cannot be "
                "freshness-probed and would land an unmatchable row)"
            )
        existing = self.read(spark, path)
        if exclude_batch_id is not None:
            existing = existing.filter(F.col("batch_id") != int(exclude_batch_id))
        if head is not None:
            # one SQL string, not Column.isin(list): isin builds one py4j
            # literal per id (measured 2.2 s vs 0.3 s at 2500 ids for the
            # IDENTICAL pushed-down In plan)
            clash = existing.filter(
                f"{c} IN ({', '.join(str(r[c]) for r in head)})"
            ).limit(1)
        else:
            clash = ids.join(existing.select(c), c, "left_semi").limit(1)
        if clash.count() > 0:
            raise ValueError(
                f"{where}: batch re-ingests an already-indexed {c} — "
                "duplicate rows would double-count in every probe and "
                "score; anti-join the batch against the index before "
                "ingesting"
            )
