"""The standing-index table: ONE lifecycle for every partitioned index the
LLM-data extensions persist — text postings (``tbucket``), IVF/IVF-PQ
vectors (``cell``) and the image/audio/video dHash bands (``bband``), plus
the text index's unkeyed doclen sidecar (``key=None``).

An index is parquet partitioned by its key, in one of two layouts:

- ``"flat"`` — build/append: data files directly under ``<key>=N/``;
- ``"batched"`` — streamed ingest: ``<key>=N/batch_id=M/``, each landing
  written with DYNAMIC partition overwrite so an at-least-once replay
  overwrites exactly its own (key, batch) slices instead of
  double-appending (the per-epoch idempotent sink the exactly-once
  streaming contract rests on).  ``batch_id=-1`` is the compacted
  generation (``sinks.writers.COMPACTED_GEN``).

Spark cannot read a directory mixing both partition depths
(CONFLICTING_PARTITION_COLUMN_NAMES), so flat ``append`` and streamed
``ingest`` each refuse the other's layout instead of corrupting the index.
Compaction and deletion ride the shared crash-safe cores in
``sinks.writers`` (fold manifests, ``batch_id=-1`` generations, staged
delete manifests); reads tolerate a fully-emptied index; the cross-batch
id-freshness probe lives here so every family enforces one contract.

A family owns only what is its own: how rows are produced (tokenize /
assign cell / hash bands), its side artifacts (centroids, codebooks,
doclen/stats sidecars) and its intra-batch contract checks.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

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
    identity deletes and freshness probes match on, ``schema`` the
    columns an emptied table still exposes to its readers."""

    key: str | None
    id_col: str
    schema: str

    def _dirs(self, path: str) -> list[Path]:
        """The table's partition directories: every ``<key>=<int>`` dir (a
        crash-leftover ``<key>=N__compact`` staging dir is not a
        partition — the fold core deletes it when it next touches N), or
        the root itself for an unkeyed table."""
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

    def layout(self, path: str) -> str | None:
        """``"flat"``, ``"batched"``, or None (no data yet).  A mix of both
        is unreadable by Spark and raises."""
        kinds = set()
        for sub in self._dirs(path):
            if any(sub.glob("batch_id=*")):
                kinds.add("batched")
            if any(sub.glob("*.parquet")):
                kinds.add("flat")
        if len(kinds) > 1:
            raise ValueError(
                f"index at {path} mixes flat and batched {self.key} layouts "
                "— unreadable by Spark; rebuild it or remove the "
                "foreign-layout files"
            )
        return kinds.pop() if kinds else None

    def _aligned(self, rows: DataFrame) -> DataFrame:
        """Key-aligned rows: each partition (slice) lands as ONE file
        instead of one sliver per upstream task (tasks x partitions tiny
        files; measured 1534 -> 48 on the sf0.1 video index), so every
        later pruned read lists one file per slice.  An unkeyed table's
        landing is batch-scale, so it coalesces to one file."""
        return rows.repartition(self.key) if self.key else rows.coalesce(1)

    def _keys(self) -> list[str]:
        return [self.key] if self.key else []

    def build(self, rows: DataFrame, path: str) -> None:
        """The offline bulk build: overwrite ``path`` with ``rows`` in the
        flat layout.  At 100 TB one file per partition would be oversized
        — there the knob is adding a salt to the alignment key, which
        spreads a partition over many tasks while keeping every file
        partition-pure."""
        self._aligned(rows).write.mode("overwrite").partitionBy(
            *self._keys()
        ).parquet(path)

    def check_layout(self, path: str, landing: str) -> None:
        """Refuse a ``landing`` ("flat" append / "batched" ingest) into an
        index holding the other layout.  ``append``/``ingest`` run it
        before writing; a family whose checks run Spark jobs before the
        landing calls it first too, so the refusal is the error a
        wrong-layout call reports."""
        if landing == "flat" and self.layout(path) == "batched":
            raise ValueError(
                f"flat append into a STREAMED ({self.key}/batch_id) index at "
                f"{path} would mix partition depths — route new rows "
                "through the streamed ingest instead"
            )
        if landing == "batched" and self.layout(path) == "flat":
            raise ValueError(
                f"streamed ingest into a FLAT (build/append) index at {path} "
                "would mix partition depths and break every reader — keep "
                "maintaining it by flat append, or stream into a fresh path "
                "(a vector index bootstraps with its quantizer-only fit)"
            )

    def append(self, rows: DataFrame, path: str) -> None:
        """Flat-layout incremental landing (small-file debt is settled by
        ``compact``).  Not replay-safe — that is the batch-job path."""
        self.check_layout(path, "flat")
        self._aligned(rows).write.mode("append").partitionBy(
            *self._keys()
        ).parquet(path)

    def ingest(self, rows: DataFrame, batch_id: int, path: str) -> None:
        """One micro-batch's replay-idempotent landing under
        ``<key>=N/batch_id=<batch_id>`` with dynamic partition overwrite.
        The key stays the top-level partition, so key pruning holds; the
        ``batch_id`` level only subdivides files inside a partition."""
        self.check_layout(path, "batched")
        (
            self._aligned(
                rows.withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*self._keys(), "batch_id")
            .parquet(path)
        )

    def compact(
        self, spark, path: str, target_bytes: int = 128 * 1024 * 1024
    ) -> dict[str, int]:
        """Flat-layout maintenance: fold each partition's files toward
        ~``target_bytes`` files via the ONE crash-safe fold core
        (``sinks.writers.fold_parquet_files``).  Pure layout change — rows
        and the partition encoding (and with it pruning) hold.  Returns
        ``{partition_dir: file_count}``."""
        from .writers import fold_parquet_files

        return {
            sub.name: fold_parquet_files(
                spark, sorted(str(p) for p in sub.glob("*.parquet")), sub,
                target_bytes,
            )
            for sub in self._dirs(path)
        }

    def compact_streamed(
        self, spark, path: str, upto_batch_id: int
    ) -> dict[str, int]:
        """Streamed-layout maintenance: each partition's ``batch_id=<n>``
        landings below the committed watermark fold into the reserved -1
        generation — ``compact_batch_landings`` per partition dir, so the
        watermark-coupling contract, the fold-manifest crash safety and the
        replay-ownership rule are inherited verbatim.  Returns
        ``{partition_dir: file_count}``."""
        from .writers import compact_batch_landings

        return {
            sub.name: compact_batch_landings(spark, str(sub), upto_batch_id)
            for sub in self._dirs(path)
        }

    def delete(self, spark, path: str, ids) -> tuple[int, int] | None:
        """Compliance deletion: remove every row whose id is in ``ids`` by
        targeted rewrite of only the partitions holding them, under the
        staged-commit manifest (``delete_rows_partitioned`` — idempotent,
        crash-convergent, bulk semi-join above its IN-list bound).  The
        partition columns follow the layout; a fully-emptied partition's
        directory disappears.  Returns the core's (affected, emptied)
        counts, or None when the table holds no data."""
        from .writers import delete_rows_partitioned

        layout = self.layout(path)
        if layout is None:
            return None
        pcols = self._keys() + (["batch_id"] if layout == "batched" else [])
        return delete_rows_partitioned(spark, path, self.id_col, ids, pcols)

    def read(
        self, spark, path: str, before: int | None = None
    ) -> DataFrame | None:
        """Emptiness-tolerant read: a delete of every row removes every
        partition dir, so ``spark.read`` could not infer a schema from the
        bare root — an emptied index must stay QUERYABLE (zero results),
        not raise (the round-9 lifecycle fuzz's [ingest, delete-all,
        query]).

        ``before=N`` is the streaming gate's view: the rows landed by
        batches below N, or None when nothing has landed yet.  ``<`` not
        ``!=`` — a replay of batch N must not see its own first attempt's
        rows (self-duplicate wipeout), and the -1 compacted generation
        stays below every real batch id."""
        if not _spark_visible_parquet(path):
            if before is not None:
                return None
            return spark.createDataFrame([], self.schema)
        df = spark.read.parquet(path)
        if before is None:
            return df
        return df.filter(F.col("batch_id") < int(before))

    def landed_batches(self, path: str) -> set[int] | None:
        """The batch ids whose streamed slices hold data — a directory
        listing, never a data scan.  None when a slice dir is not
        batch_id-shaped (a foreign layout)."""
        ids: set[int] = set()
        for sub in self._dirs(path):
            for d in sub.glob("batch_id=*"):
                if not any(d.glob("*.parquet")):
                    continue
                try:
                    ids.add(int(d.name.split("=", 1)[1]))
                except ValueError:
                    return None
        return ids

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
        if exclude_batch_id is not None and "batch_id" in existing.columns:
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
