"""Sinks (SURVEY §2.1 S2-S7): partitioned columnar writes with the reference
storage semantics mapped onto parquet.

ClickHouse semantics -> Spark:
- ``PARTITION BY test_time_d`` day partitions  -> ``partitionBy(date_col)``
- ``sipHash64(key)`` shard routing             -> ``repartition(n, key)``
  before write (co-locates a key's rows in one file; at cluster scale this
  is the shuffle that replaces CH's distributed-table fan-out)
- ReplacingMergeTree(create_time) dedup        -> ``dedup_last_write_wins``
  applied on read or on compaction (A5)
- 3-month TTL                                  -> ``drop_expired_partitions``
- per-record JDBC insert (S3)                  -> deliberately NOT mapped:
  batch-append only (per-row writes are an anti-pattern in Spark)
"""

from __future__ import annotations

import math
import os
import shutil
from datetime import date, timedelta
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_facts(
    df: DataFrame,
    out_dir: str,
    date_col: str,
    shard_key: str | None = None,
    shards: int = 0,
    mode: str = "append",
) -> None:
    """S2 — day-partitioned bulk append (ProbeWindowSink et al.).

    ``shards`` > 0 re-shuffles on ``shard_key`` first — the sipHash64 shard
    analogue; leave 0 to keep the upstream partitioning (no extra shuffle).
    """
    if shards > 0 and shard_key:
        df = df.repartition(shards, F.col(shard_key))
    df.write.mode(mode).partitionBy(date_col).parquet(out_dir)


def write_facts_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    driver: str | None = None,
    batchsize: int = 10_000,
    max_connections: int | None = None,
) -> None:
    """S3/S5 — the reference's relational landing path (MySQL/ClickHouse via
    MyBatis ``insertList`` — sink/ProbeHeartbeatSink.java:41-51,
    nqs-gen GwDataServiceImpl.java:32-51) behind the same facts API.

    Spark-first shape: ONE ``format('jdbc')`` batch write, not per-record
    inserts (the S3 anti-pattern stays unmapped).  ``batchsize`` is the
    executor-side addBatch/executeBatch chunk — the ``insertList`` analogue;
    ``max_connections`` maps to the JDBC writer's ``numPartitions`` option,
    which caps concurrent connections so a 1000-executor cluster cannot
    open 1000 sessions against one database (the classic JDBC-sink scale
    failure) — the option form confines the narrowing to the write stage,
    where an explicit ``coalesce`` could propagate reduced parallelism
    upstream into the preceding computation.  Day-partitioning/TTL are the
    database's job on this path (the reference's ClickHouse DDL), not the
    writer's."""
    w = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .option("isolationLevel", "READ_COMMITTED")
    )
    if max_connections and max_connections > 0:
        w = w.option("numPartitions", str(max_connections))
    if driver:
        w = w.option("driver", driver)
    w.mode(mode).save()


def idempotent_batch_write(
    df: DataFrame, base_dir: str, batch_id: int, partition_cols: tuple[str, ...] = ()
) -> None:
    """S2 exactly-once-ish landing for foreachBatch sinks: each micro-batch
    owns (and overwrites) the ``batch_id=<id>`` subpath, so an at-least-once
    replay of the same batch cannot double-append.  Readers see batch_id as
    a discovered partition column and project it away."""
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(f"{base_dir}/batch_id={batch_id}")


def drop_expired_partitions(out_dir: str, date_col: str, keep_months: int = 3,
                            today: date | None = None) -> list[str]:
    """TTL enforcement as a partition-drop job (DDL `TTL ... + INTERVAL 3
    MONTH`) — metadata-only deletes, no data rewrite."""
    today = today or date.today()
    cutoff = today - timedelta(days=math.ceil(keep_months * 30.44))
    dropped = []
    root = Path(out_dir)
    if not root.exists():
        return dropped
    for part in root.glob(f"{date_col}=*"):
        val = part.name.split("=", 1)[1]
        try:
            part_date = date.fromisoformat(val)
        except ValueError:
            continue
        if part_date < cutoff:
            shutil.rmtree(part)
            dropped.append(part.name)
    return dropped


def kafka_payload(df: DataFrame) -> DataFrame:
    """S6 — the outbound "data saved" message: whole row as JSON `value`
    (AbstractDataParser.java:146-159).  Attach to
    ``.writeStream.format('kafka')`` in a real deployment."""
    return df.select(F.to_json(F.struct(*df.columns)).alias("value"))


def compact_partition(spark, out_dir: str, date_col: str, part_value: str) -> int:
    """Small-file compaction for one day partition: streaming appends leave
    one file per micro-batch; periodic compaction folds the partition into
    one file per ~128 MB — the ClickHouse background-merge analogue,
    scheduled instead of implicit.

    Safe next to a live streaming writer: the input file list is snapshotted
    FIRST and the fold reads exactly that snapshot, so a file appended
    concurrently is never read, never deleted, and the partition directory
    never disappears.  Crash-safe through the fold core
    (``fold_parquet_files``): a crash between the move-in and the
    input delete is rolled forward by the next pass — never duplicates,
    never data loss.

    Returns the number of files after compaction.
    """
    import glob as _glob

    part_path = f"{out_dir}/{date_col}={part_value}"
    # settle a crashed fold BEFORE the snapshot: its roll-forward deletes
    # inputs the snapshot would otherwise hand back to the fold
    _repair_crashed_compaction(Path(part_path))
    inputs = sorted(_glob.glob(f"{part_path}/*.parquet"))
    if not inputs:
        return 0
    return fold_parquet_files(spark, inputs, part_path)


COMPACTED_GEN = -1  # reserved batch_id for compacted history


def _repair_crashed_compaction(gen_path: Path) -> None:
    """Settle any fold manifest left by a crashed compact_batch_landings.

    A manifest is committed BEFORE any compacted file moves into the live
    generation dir, and removed only after every folded input is deleted —
    so its mere presence means the fold did not finish.  All listed new
    files present -> the crash happened during input deletion: roll forward
    (delete remaining inputs).  Any new file missing -> the crash happened
    mid-rename: roll back (delete the partial new files; the inputs are
    complete because deletion never starts before the rename finishes).
    A torn (unparseable) or empty-new_files manifest also rolls BACK —
    content durability is fsynced before the rename, so a torn manifest
    proves the fold never got past its commit point and the inputs are
    whole; keeping the candidates would bake in duplicates on the next
    fold, and trusting an empty list would delete inputs with no
    replacement."""
    if not gen_path.is_dir():
        return
    import json as _json

    for manifest in sorted(gen_path.glob("_compact-*.manifest.json")):
        stamp = manifest.name[len("_compact-") : -len(".manifest.json")]
        try:
            spec = _json.loads(manifest.read_text())
        except ValueError:
            spec = None
        if spec is None or not spec.get("new_files"):
            # Torn write, or a manifest committed with an empty new_files
            # list (invalid by construction — the fold always stages >=1
            # file).  Both mean the content fsync never completed or the
            # writer was broken, and the fsync-before-rename discipline
            # guarantees nothing AFTER the manifest commit ran — the
            # inputs are intact.  Roll BACK: delete the stamp's candidate
            # new files (stamp-matched only, so prior-generation inputs
            # living in this dir are never touched) and keep the inputs.
            # Rolling FORWARD here would fold the new generation next to
            # its surviving inputs (permanent duplication), or — for the
            # empty-list case — delete every input with no replacement.
            for p in gen_path.glob(f"compact-{stamp}-*.parquet"):
                p.unlink(missing_ok=True)
            manifest.unlink(missing_ok=True)
            continue
        new_files = [gen_path / name for name in spec["new_files"]]
        if all(p.exists() for p in new_files):
            # inputs are recorded as ABSOLUTE paths at manifest-write time,
            # so this roll-forward works from any working directory;
            # missing_ok stays — a crash mid-deletion legitimately leaves
            # some inputs already gone
            new_abs = {p.resolve() for p in new_files}
            for f in spec["inputs"]:
                if Path(f).resolve() not in new_abs:
                    Path(f).unlink(missing_ok=True)
        else:
            for p in new_files:
                p.unlink(missing_ok=True)
        manifest.unlink(missing_ok=True)
    # half-committed manifests (tmp never renamed) are dead letters
    for tmp in sorted(gen_path.glob(".compact-*.manifest.tmp")):
        tmp.unlink(missing_ok=True)


_FOLD_TARGET_BYTES = 128 * 1024 * 1024


def fold_parquet_files(spark, inputs: list[str], dest_dir) -> int:
    """THE fold core shared by ``compact_batch_landings`` (and through it
    the index table's ``compact``) and ``compact_partition``: merge
    ``inputs`` (parquet file paths — may include files already living in
    ``dest_dir``) into ~``_FOLD_TARGET_BYTES`` files named
    ``compact-<stamp>-NNNNN.parquet`` inside ``dest_dir``, crash-safe
    under the fold-manifest protocol (``_repair_crashed_compaction``'s
    schema — one writer, one repairer, so the manifest format cannot
    drift between call sites).  Settles any
    crashed prior fold first (including pre-commit ``.<dest>__compact``
    staging garbage, which the manifest never covers because it exists
    only before the commit point; the leading dot keeps Spark's FileIndex
    from reading it as data meanwhile — an underscore name holding ``=``
    would still be parsed as a partition).  Skips the rewrite when every input already
    lives in ``dest_dir`` at or under the byte target (idempotence).
    Returns the dest dir's parquet file count afterwards."""
    import json as _json
    import uuid as _uuid

    dest = Path(dest_dir)
    _repair_crashed_compaction(dest)
    tmp_path = str(dest.parent / f".{dest.name}__compact")
    shutil.rmtree(tmp_path, ignore_errors=True)
    # Manifest paths must be ABSOLUTE: a crash repair may run from a
    # different working directory, and relative inputs would make the
    # roll-forward deletion silently no-op (missing_ok), leaving the
    # merged inputs on disk and permanently duplicating rows in the
    # folded generation on the next pass.
    inputs = sorted(str(Path(f).resolve()) for f in inputs)

    def _count() -> int:
        return len(list(dest.glob("*.parquet"))) if dest.is_dir() else 0

    if not inputs:
        return _count()
    total_bytes = sum(Path(f).stat().st_size for f in inputs)
    n_files = max(1, math.ceil(total_bytes / _FOLD_TARGET_BYTES))
    if n_files >= len(inputs) and all(
        Path(f).parent == dest.resolve() for f in inputs
    ):
        return _count()
    # snapshot read: concurrent appends land new files, unseen here
    df = spark.read.parquet(*inputs)
    df.coalesce(n_files).write.mode("overwrite").parquet(tmp_path)
    stamp = _uuid.uuid4().hex[:8]
    dest.mkdir(parents=True, exist_ok=True)
    staged = sorted(Path(tmp_path).glob("*.parquet"))
    dests = [dest / f"compact-{stamp}-{i:05d}.parquet" for i in range(len(staged))]
    # Commit point: manifest first (atomic rename), then move files in.
    manifest = dest / f"_compact-{stamp}.manifest.json"
    manifest_tmp = dest / f".compact-{stamp}.manifest.tmp"
    with open(manifest_tmp, "w") as fh:
        fh.write(
            _json.dumps({"new_files": [d.name for d in dests], "inputs": inputs})
        )
        fh.flush()
        os.fsync(fh.fileno())  # content durable BEFORE the rename commits it
    manifest_tmp.rename(manifest)
    moved = []
    for f, d in zip(staged, dests):
        f.rename(d)
        moved.append(d)
    shutil.rmtree(tmp_path)
    # delete merged inputs only after the new generation is fully in place
    moved_abs = {d.resolve() for d in moved}
    for f in inputs:
        if Path(f) not in moved_abs:
            Path(f).unlink(missing_ok=True)
    manifest.unlink(missing_ok=True)  # fold complete
    return _count()


def compact_batch_landings(spark, base_dir: str, upto_batch_id: int) -> int:
    """Small-file maintenance for batch_id-keyed landing tables (the dedup
    index / curation output): merge every ``batch_id`` subpath in
    ``[0, upto_batch_id)`` into the reserved ``batch_id=-1`` compacted
    generation (folding any previous generation in), then delete the merged
    subpaths.  One file per ~128 MB of merged data.

    Correctness contract (couples to streaming/jobs._read_prior_batches):
    - The ``batch_id < current`` exclusion rule keeps working unchanged —
      the -1 generation is below every real batch id, so derived state
      (index reads, token carries) sees identical rows before and after.
    - ``upto_batch_id`` MUST be at or below the stream's committed
      watermark: a batch the checkpoint might replay must keep owning its
      subpath (a replay overwrites ``batch_id=N``; if N were already folded
      into -1 the replay would double-count).  Passing the max batch id
      that a RUNNING query has committed is safe; the simplest safe call
      site is "while the stream is stopped, compact everything landed".
    - Fresh-checkpoint restarts that intentionally re-ingest from batch 0
      must reset the landing table too (same rule as before compaction —
      re-owning subpaths cannot reclaim rows folded into -1).

    Crash safety (the fold manifest): renaming the new generation in and
    deleting the merged inputs cannot be one atomic step, so a BEFORE the
    files move, a manifest listing the expected new files and every folded
    input is committed (tmp-write + rename) into the generation dir.
    ``_repair_crashed_compaction`` runs first on every pass and settles any
    manifest it finds: if the listed new files are all present the previous
    run got past the rename — roll FORWARD by deleting its listed inputs
    (finishing the interrupted deletion); otherwise roll BACK by deleting
    the partially-renamed new files (the inputs are still intact, since
    deletion only ever starts after the rename completes).  Either way no
    row is ever folded twice — without the manifest, a crash between rename
    and unlink left rows in both the new generation and the original
    subpaths, and the NEXT pass merged both copies, baking the duplicates
    in permanently.

    Returns the number of files in the compacted generation.
    """
    import glob as _glob

    gen_path = Path(base_dir) / f"batch_id={COMPACTED_GEN}"
    # settle any crashed fold BEFORE listing inputs: roll-forward deletes
    # already-folded input files, and listing them first would hand the
    # fold core paths the repair is about to remove
    _repair_crashed_compaction(gen_path)
    inputs: list[str] = []
    for sub in sorted(Path(base_dir).glob("batch_id=*")):
        try:
            bid = int(sub.name.split("=", 1)[1])
        except ValueError:
            continue
        if bid == COMPACTED_GEN or 0 <= bid < upto_batch_id:
            inputs.extend(sorted(str(p) for p in sub.glob("*.parquet")))
    fold_parquet_files(spark, inputs, gen_path)
    for sub in sorted(Path(base_dir).glob("batch_id=*")):
        try:
            bid = int(sub.name.split("=", 1)[1])
        except ValueError:
            continue
        if 0 <= bid < upto_batch_id:
            # clear Spark write residue (_SUCCESS, .crc) so the emptied
            # subpath actually disappears instead of lingering partitionless
            leftovers = list(sub.iterdir())
            if all(p.name == "_SUCCESS" or p.name.endswith(".crc") for p in leftovers):
                for p in leftovers:
                    p.unlink(missing_ok=True)
                sub.rmdir()
    return len(_glob.glob(f"{gen_path}/*.parquet"))


DELETE_MANIFEST = "__delete_manifest.json"
DELETE_STAGING = "__delete_staging"
# max ids inlined as a pushed-down IN filter; above this the delete
# switches to semi/anti joins against a distributed id frame (same
# threshold role as index_table._FRESH_PROBE_INLIST)
_DELETE_INLIST = 10_000


def _delete_part_dir(path: str, partition_cols: list[str], values):
    from pathlib import Path

    sub = Path(path)
    for c, v in zip(partition_cols, values):
        sub = sub / f"{c}={v}"
    return sub


def _commit_delete(path: str, manifest: dict) -> None:
    """Roll the staged delete FORWARD (idempotent — every step checks
    what already happened): for each affected partition, remove the old
    directory and move the staged replacement in (kept partitions) or
    just remove it (emptied).  Underscore-prefixed staging/manifest names
    keep Spark's FileIndex blind to the machinery."""
    import shutil as _sh
    from pathlib import Path

    staging = Path(path) / DELETE_STAGING
    pcols = manifest["partition_cols"]
    kept = {tuple(t) for t in manifest["kept"]}
    for t in (tuple(t) for t in manifest["affected"]):
        real = _delete_part_dir(path, pcols, t)
        staged = _delete_part_dir(str(staging), pcols, t)
        if t in kept:
            if staged.exists():
                _sh.rmtree(real, ignore_errors=True)
                real.parent.mkdir(parents=True, exist_ok=True)
                staged.rename(real)
            # staged gone -> this partition already committed
        else:
            _sh.rmtree(real, ignore_errors=True)
            # an emptied key dir goes with its last batch slice
            for parent in real.parents:
                if parent == Path(path) or not parent.is_dir() or any(
                    parent.iterdir()
                ):
                    break
                parent.rmdir()
    (Path(path) / DELETE_MANIFEST).unlink(missing_ok=True)
    _sh.rmtree(staging, ignore_errors=True)


def _repair_crashed_delete(path: str) -> None:
    """Settle a crashed prior delete before doing anything else: with a
    manifest, roll forward (the staging holds the complete kept rows of
    every not-yet-committed partition); without one, any staging dir is
    pre-commit garbage — the dataset is untouched, drop the staging."""
    import json as _json
    import shutil as _sh
    from pathlib import Path

    man = Path(path) / DELETE_MANIFEST
    if man.exists():
        _commit_delete(path, _json.loads(man.read_text()))
    else:
        _sh.rmtree(Path(path) / DELETE_STAGING, ignore_errors=True)


def _write_delete_manifest(path: str, manifest: dict) -> dict:
    import json as _json
    import os as _os
    from pathlib import Path

    man = Path(path) / DELETE_MANIFEST
    tmp = Path(path) / (DELETE_MANIFEST + ".tmp")
    tmp.write_text(_json.dumps(manifest, sort_keys=True))
    fd = _os.open(tmp, _os.O_RDONLY)
    try:
        _os.fsync(fd)
    finally:
        _os.close(fd)
    tmp.rename(man)
    return _json.loads(man.read_text())


def delete_rows_partitioned(
    spark, path: str, key_col: str, ids, partition_cols: list[str]
) -> tuple[int, int]:
    """Compliance deletion core — remove every row whose ``key_col`` is in
    ``ids`` from a parquet dataset by TARGETED partition rewrite under a
    staged-commit manifest: only partitions that actually contain a hit
    are read back and filtered, the kept rows land in an underscore-
    hidden staging dir FIRST (real files on disk before anything is
    removed), a manifest records the plan (fsync + rename), and only
    then are old partition directories swapped for their staged
    replacements (or removed outright when the delete emptied them).
    Returns (affected, emptied) partition counts.

    Crash safety (the fold-manifest discipline): a crash before the
    manifest rename leaves the dataset untouched (staging is pre-commit
    garbage, dropped on the next call); a crash after it is rolled
    FORWARD by ``_repair_crashed_delete`` — the staging holds the
    complete kept rows of every partition not yet swapped, and every
    commit step is idempotent.  Readers racing the commit window can see
    a partition mid-swap: deletion is an offline maintenance operation,
    exactly like compaction.

    Cost model: up to ``_DELETE_INLIST`` ids inline as an IN-list the
    scan pushes down to find hits (row-group min/max pruning — the
    right-to-be-forgotten shape, cost tracks the id batch); above it,
    the same ids become a distributed frame and every hit/keep filter
    switches to a semi/anti join (a 10M-literal IN would blow up the
    expression tree and defeat pushdown anyway — the bulk-delete
    shape).  Both forms rewrite only affected partitions.
    """
    from pathlib import Path

    from pyspark.sql import functions as F

    # ids pass through as-is: isin() takes any literal type, so string
    # doc ids work unchanged (coercing via int() would silently constrain
    # the compliance key to integers)
    ids = list(ids)
    bulk = len(ids) > _DELETE_INLIST
    if bulk:
        # distinct: a repeated id must not repeat semi-join hit rows
        # (affected-partition discovery would still dedup, but the keep
        # anti-join is cheaper against a deduped build side)
        ids_df = (
            spark.createDataFrame([(i,) for i in ids], [key_col]).distinct()
        )

        def _hits(d):
            return d.join(ids_df, key_col, "left_semi")

        def _keep(d):
            return d.join(ids_df, key_col, "left_anti")

    else:

        def _hits(d):
            return d.filter(F.col(key_col).isin(ids))

        def _keep(d):
            return d.filter(~F.col(key_col).isin(ids))

    _repair_crashed_delete(path)
    # both repair and commit move files BEHIND Spark's FileIndex cache —
    # refresh or this very function would plan against a stale listing
    spark.catalog.refreshByPath(path)
    df = spark.read.parquet(path)
    staging = Path(path) / DELETE_STAGING

    aff = [
        tuple(r)
        for r in _hits(df).select(*partition_cols).distinct().collect()
    ]
    if not aff:
        return (0, 0)
    aff_df = spark.createDataFrame([list(t) for t in aff], partition_cols)
    keep = _keep(df.join(F.broadcast(aff_df), partition_cols, "left_semi"))
    keep.write.mode("overwrite").partitionBy(*partition_cols).parquet(
        str(staging)
    )
    kept = [
        t
        for t in aff
        if _delete_part_dir(str(staging), partition_cols, t).exists()
    ]
    manifest = _write_delete_manifest(
        path,
        {
            "flat": False,
            "partition_cols": partition_cols,
            "affected": [list(t) for t in aff],
            "kept": [list(t) for t in kept],
        },
    )
    _commit_delete(path, manifest)
    spark.catalog.refreshByPath(path)
    return (len(aff), len(aff) - len(kept))
