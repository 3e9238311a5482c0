"""Crash-safe plain-parquet table mutation: partition-scoped
stage-then-swap, shared by the streaming eligibility merge
(streaming/status.py), the generalized batch upsert below, and every
store that rewrites a directory wholesale (compaction, sketch folds).

One crash contract covers every mutation here. The replacement is
fully written to a SIBLING staging directory while the destination is
still only being read; then `_swap` moves it in with two renames —
dest → hidden ``.name.replaced`` backup, staging → dest — and deletes
the backup (a drop is the same step without the second rename).
Renames are atomic on HDFS and local filesystems and dot-prefixed
directories are invisible to Spark's parquet reader, so at every
instant each destination is either completely old or completely new.
`_heal` undoes a crash between the renames: a backup whose
destination is missing is the only copy and is renamed back; a backup
whose destination exists is a leftover and is deleted. `recover_*`
runs it before any read that precedes a mutation, and mutation bodies
are idempotent, so a checkpointed or caller retry after recovery
converges. Rollback is conservative for drops too: a partition a
crashed run had emptied comes back whole and the retry re-empties it.

Single-maintenance-process: one writer mutates a table at a time.
Readers may heal concurrently; if a reader's heal restores the old
destination between a swap's two renames, `_swap` reports it and the
caller treats the mutation as not done (the retry re-derives it).

Object stores without atomic rename (S3) should use a transactional
format (Delta/Iceberg MERGE) instead — these helpers are the
plain-parquet path for real filesystems, and a Delta MERGE drops in
where they are called.

Reference parity: the reference upserts through PostgREST with
per-table conflict columns (smartFileProcessor.js:167-174,
getConflictColumn :202-211) — Postgres gives it atomicity for free;
this module is what the same guarantee costs on raw parquet.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_BACKUP = ".replaced"


def _fs(spark: SparkSession, path: str):
    """(Hadoop Path class, FileSystem of ``path``) — the one place the
    package touches the Hadoop FileSystem API, so every store works on
    non-local filesystems."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    return hpath, hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())


def _exists(spark: SparkSession, path: str) -> bool:
    hpath, fs = _fs(spark, path)
    return fs.exists(hpath(path))


def _backup(hpath, dest):
    """The hidden sibling a swap parks ``dest`` (a Hadoop Path) in."""
    return hpath(dest.getParent(), f".{dest.getName()}{_BACKUP}")


def _swap(hpath, fs, staging, dest) -> bool:
    """Move ``staging`` onto ``dest`` (Hadoop Paths; ``staging=None``
    drops ``dest``) under the module's crash contract. Returns False
    only when a reader's `_heal` put the old ``dest`` back mid-swap —
    the staged copy is then deleted and nothing changed."""
    backup = _backup(hpath, dest)
    fs.delete(backup, True)  # leftover of a crashed earlier swap
    parked = fs.exists(dest)
    if parked and not fs.rename(dest, backup):
        raise IOError(f"swap: rename {dest} -> {backup} failed")
    if staging is None:
        # a drop: a backup that vanished was renamed back by a reader
        return not parked or fs.delete(backup, True)
    if not fs.rename(staging, dest):
        if fs.exists(dest) and not fs.exists(backup):
            fs.delete(staging, True)
            return False
        raise IOError(f"swap: rename {staging} -> {dest} failed")
    fs.delete(backup, True)
    return True


def _heal(fs, backup, dest) -> None:
    """Settle a ``backup`` a crashed `_swap` left behind (module
    docstring). A failed rename with ``dest`` present is the benign
    race with a live swap whose second rename just landed: the backup
    is then a leftover too."""
    if not fs.exists(dest) and fs.rename(backup, dest):
        return
    if not fs.exists(dest):
        raise IOError(f"recovery: rename {backup} -> {dest} failed")
    fs.delete(backup, True)


def recover_partitions(spark: SparkSession, dest_root: str,
                       partition_col: str) -> None:
    """`_heal` every partition of ``dest_root`` a crash stranded
    mid-swap. Run it before any read that precedes a swap: until then
    a stranded partition's only copy is hidden from Spark's reader."""
    hpath, fs = _fs(spark, dest_root)
    root = hpath(dest_root)
    if not fs.exists(root):
        return
    prefix = "." + partition_col + "="
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if (status.isDirectory() and name.startswith(prefix)
                and name.endswith(_BACKUP)):
            _heal(fs, status.getPath(),
                  hpath(dest_root, name[1:-len(_BACKUP)]))


def swap_partitions(spark: SparkSession, staging: str, dest_root: str,
                    partition_col: str,
                    drop_partitions: list[str] | None = None) -> None:
    """`_swap` every fully-written staging partition directory into the
    destination, then drop ``drop_partitions`` (directory names like
    ``col=value``) that the mutation emptied. A crash between
    partitions leaves a mixed but internally-consistent table which the
    idempotent retry converges. Raises when a reader's heal undid a
    swap, so merged rows are never silently dropped."""
    recover_partitions(spark, dest_root, partition_col)
    hpath, fs = _fs(spark, dest_root)
    prefix = partition_col + "="
    moves = {st.getPath().getName(): st.getPath()
             for st in fs.listStatus(hpath(staging))
             if st.isDirectory() and st.getPath().getName().startswith(prefix)}
    for name in drop_partitions or []:
        if name.startswith(prefix):
            moves.setdefault(name, None)
    for name, src in moves.items():
        if not _swap(hpath, fs, src, hpath(dest_root, name)):
            raise IOError(f"partition swap: a concurrent recovery restored "
                          f"{dest_root}/{name} mid-swap; retry the merge")
    fs.delete(hpath(staging), True)


def upsert_parquet(spark: SparkSession, source: DataFrame, dest_path: str,
                   key: str, partition_col: str,
                   sort_within: list[str] | None = None) -> None:
    """Crash-safe generalized keyed upsert into a partitioned parquet
    table: MERGE WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT with
    source-wins, the durable twin of `sinks.upsert` (which returns the
    merged DataFrame and leaves persistence to the caller).

    Partition-scoped: only partitions that hold a matched key or
    receive a source row are re-derived — (target rows there whose key
    is NOT in the source) ∪ (all source rows) — staged to a sibling
    directory, and swapped in per partition. A key whose partition
    value CHANGES is handled: its old partition is affected (holds the
    matched key, so it is rewritten without the row — or dropped
    outright if that empties it) and its new partition receives it. A
    100 TB fact takes a few directory rewrites per delta, not a table
    rewrite, and the table stays readable and whole at every instant
    (module docstring: one crash contract).
    """
    merge_parquet(spark, source, dest_path, key, partition_col,
                  delete_condition=None, sort_within=sort_within)


def merge_parquet(spark: SparkSession, source: DataFrame, dest_path: str,
                  key: str, partition_col: str,
                  delete_condition=None,
                  sort_within: list[str] | None = None) -> None:
    """Full MERGE with delete support — upsert_parquet's machinery plus
    WHEN MATCHED AND <delete_condition> THEN DELETE. Per-source-row
    clause semantics (like SQL MERGE): a source row where the condition
    holds removes the target row with its key and inserts nothing; every
    other source row upserts source-wins. The targeted-delete path is
    the right-to-be-forgotten / tombstone operation a long-lived corpus
    needs: partition-scoped directory rewrites (a partition emptied by
    deletes is dropped atomically in the swap), never a table rewrite,
    under the module's crash contract.

    ``delete_condition``: Column or SQL string evaluated against SOURCE
    rows; None degrades to plain upsert.
    """
    def _sorted(df: DataFrame) -> DataFrame:
        return df.sortWithinPartitions(*sort_within) if sort_within else df

    if isinstance(delete_condition, str):
        delete_condition = F.expr(delete_condition)

    hpath, fs = _fs(spark, dest_path)
    recover_partitions(spark, dest_path, partition_col)
    if delete_condition is not None:
        inserts = source.filter(~F.coalesce(delete_condition, F.lit(False)))
    else:
        inserts = source
    if not fs.exists(hpath(dest_path)):
        # bootstrap guard: a delete-only source against a missing table
        # has nothing to insert — writing it anyway would create a
        # directory holding only _SUCCESS, and every later read of the
        # "table" would fail schema inference (a permanently poisoned
        # path). Nothing to do is a no-op, not an empty write.
        if inserts.limit(1).count() == 0:
            return
        _sorted(inserts).write.partitionBy(partition_col).parquet(dest_path)
        return
    target = spark.read.parquet(dest_path)
    source = source.select(*target.columns)
    inserts = inserts.select(*target.columns)
    # the delta-key joins are left to AQE: a typical delta's key set is
    # broadcast-sized and AQE picks that at runtime, but a large backfill
    # delta would make a FORCED key broadcast the OOM-at-scale hazard
    # (same class as the ngram_overlap_join holdout fix, r07). The
    # affected-partitions frame is bounded by the table's partition count
    # and stays hinted.
    keys = source.select(key).distinct()
    affected = (target.join(keys, key, "left_semi")
                      .select(partition_col)
                      .unionByName(inserts.select(partition_col))
                      .distinct())
    affected_vals = [r[0] for r in affected.collect()]
    if not affected_vals:
        return
    # the swap's drop list is built from str(value), so values whose
    # directory name Spark would ESCAPE (Hive-encoded %XX for '/', ':',
    # '=', '#', space …) or encode specially (NULL →
    # __HIVE_DEFAULT_PARTITION__) would produce names that match no
    # directory — the emptied partition would silently SURVIVE with its
    # old rows. Refuse such values loudly; the staging-side swap is
    # immune (its names come from listing real directories).
    _check_partition_values_droppable(partition_col, affected_vals)
    # rebuild the affected frame from the values just collected instead
    # of re-evaluating the two-join lineage a second time inside the
    # staging write (cheaper, and immune to a non-deterministic source
    # making the drop list diverge from what was staged)
    part_field = target.schema[partition_col]
    from airline_data_warehouse_spark.operators.frames import (
        jvm_local_frame,
    )
    aff_lit = jvm_local_frame(spark, [(v,) for v in affected_vals],
                              T.StructType([part_field]))
    surviving = (target
                 .join(F.broadcast(aff_lit), partition_col, "left_semi")
                 .join(keys, key, "left_anti"))
    merged = surviving.unionByName(inserts)
    staging = f"{dest_path.rstrip('/')}__upsert_staging"
    fs.delete(hpath(staging), True)  # crashed prior attempt, pre-swap
    (_sorted(merged).write.mode("overwrite")
                    .partitionBy(partition_col).parquet(staging))
    drop = [f"{partition_col}={v}" for v in affected_vals]
    swap_partitions(spark, staging, dest_path, partition_col,
                    drop_partitions=drop)


# characters Spark writes VERBATIM into a partition directory name —
# everything else is Hive-%XX-escaped (ExternalCatalogUtils), and NULL
# becomes __HIVE_DEFAULT_PARTITION__, so str(value) would not name the
# real directory
_DROP_SAFE = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    "0123456789_-.+@")


def _check_partition_values_droppable(partition_col: str,
                                      vals: list) -> None:
    """Fail fast when a partition value's str() form cannot be trusted
    to equal its on-disk directory name (see merge_parquet). Integers
    and plain identifier-ish strings — every value this repo's tables
    partition by — pass; NULLs and escape-needing strings raise with
    the reason instead of leaving ghost partitions behind."""
    for v in vals:
        if v is None:
            raise ValueError(
                f"merge_parquet: NULL {partition_col} value — its "
                "directory is __HIVE_DEFAULT_PARTITION__, which the "
                "drop list cannot address; filter NULL partitions "
                "upstream")
        if isinstance(v, bool) or not isinstance(
                v, (int, str, datetime.date)):
            # datetime.date is safe: Spark's partition-type inference
            # yields date values for yyyy-MM-dd directories, and
            # str(date) is exactly that form (all _DROP_SAFE chars) —
            # rejecting it broke merge_parquet on date-partitioned
            # tables (ADVICE r13-low). datetime.datetime subclasses
            # date but its str() has spaces/colons Spark escapes, so
            # exclude it explicitly.
            raise ValueError(
                f"merge_parquet: {partition_col} value {v!r} of type "
                f"{type(v).__name__} — only int, plain-string, and "
                "date partition values round-trip to directory names; "
                "cast upstream")
        if isinstance(v, datetime.datetime):
            raise ValueError(
                f"merge_parquet: {partition_col} value {v!r} is a "
                "timestamp — its str() form contains characters Spark "
                "Hive-escapes in directory names; partition by a date "
                "or string key instead")
        if isinstance(v, str) and (not v or set(v) - _DROP_SAFE):
            raise ValueError(
                f"merge_parquet: {partition_col} value {v!r} contains "
                "characters Spark Hive-escapes in directory names — "
                "the emptied-partition drop would silently miss; use "
                "an escaped-safe partition key")


def compact_partitions(spark: SparkSession, dest_path: str,
                       partition_col: str, target_files: int = 1,
                       max_files_ok: int | None = None) -> list[str]:
    """Small-file compaction through `swap_partitions`: every partition
    directory holding more parquet files than ``max_files_ok``
    (default: ``target_files``) is rewritten to ``target_files`` files
    and swapped in. Layout-only, so the retry is idempotent.

    This is the maintenance job a 100 TB ingest needs: streaming
    appends and per-delta upserts accrete files per partition, and scan
    cost grows with file COUNT (task scheduling, footer reads, open
    costs) even when bytes are constant — the same pathology the
    streaming band store hit (SCALING.md: 2,540 files → 41 % latency
    growth; compaction flattened it). Returns the partition names it
    rewrote, so callers/tests can assert scope.
    """
    recover_partitions(spark, dest_path, partition_col)
    hpath, fs = _fs(spark, dest_path)
    root = hpath(dest_path)
    if not fs.exists(root):
        return []
    limit = target_files if max_files_ok is None else max_files_ok
    prefix = partition_col + "="
    crowded = []
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if not (status.isDirectory() and name.startswith(prefix)):
            continue
        n = sum(1 for f in fs.listStatus(status.getPath())
                if f.getPath().getName().endswith(".parquet"))
        if n > limit:
            crowded.append(name)
    if not crowded:
        return []
    staging = dest_path.rstrip("/") + ".compacting"
    fs.delete(hpath(staging), True)  # crashed prior attempt, pre-swap
    # repartition BY THE PARTITION COLUMN (plus a salt when target_files
    # > 1): all rows of one partition value land in exactly target_files
    # tasks, so the partitioned write emits exactly that many files per
    # directory — coalesce would interleave partitions across tasks and
    # write tasks×partitions files, recreating the problem being fixed
    sub = (spark.read.option("basePath", dest_path)
           .parquet(*[f"{dest_path}/{name}" for name in crowded]))
    if target_files == 1:
        sub = sub.repartition(len(crowded), F.col(partition_col))
    else:
        salt = (F.abs(F.xxhash64(*[F.col(c) for c in sub.columns]))
                % target_files)
        sub = sub.repartition(len(crowded) * target_files,
                              F.col(partition_col), salt)
    sub.write.mode("overwrite").partitionBy(partition_col).parquet(staging)
    # swap_partitions deletes the staging directory as its last step
    swap_partitions(spark, staging, dest_path, partition_col)
    return sorted(crowded)


def recover_directory(spark: SparkSession, dest_path: str) -> None:
    """`_heal` an unpartitioned directory a crash stranded mid-swap."""
    hpath, fs = _fs(spark, dest_path)
    dest = hpath(dest_path)
    backup = _backup(hpath, dest)
    if fs.exists(backup):
        _heal(fs, backup, dest)


def compact_directory(spark: SparkSession, dest_path: str,
                      target_files: int = 1,
                      max_files_ok: int | None = None) -> bool:
    """Small-file compaction for an UNPARTITIONED parquet directory —
    the append-log twin of compact_partitions: when the directory holds
    more ``.parquet`` files than ``max_files_ok`` (default:
    ``target_files``), `replace_directory` rewrites its rows to
    ``target_files`` files. Layout-only: rows unchanged.

    Single-maintenance-process contract (the cascade-store compactor's):
    an APPEND racing the swap window can land in the backup and be
    deleted with it — call from the thread that owns the table's writes
    (a foreachBatch loop, a scheduled maintenance job), never
    concurrently with appenders. Returns True when a rewrite happened.
    """
    recover_directory(spark, dest_path)
    hpath, fs = _fs(spark, dest_path)
    root = hpath(dest_path)
    if not fs.exists(root):
        return False
    limit = target_files if max_files_ok is None else max_files_ok
    n = sum(1 for f in fs.listStatus(root)
            if f.getPath().getName().endswith(".parquet"))
    if n <= limit:
        return False
    return replace_directory(spark, spark.read.parquet(dest_path),
                             dest_path, target_files)


def replace_directory(spark: SparkSession, source: DataFrame,
                      dest_path: str, target_files: int = 1) -> bool:
    """Atomically replace an UNPARTITIONED parquet directory's CONTENT
    with ``source`` (stage to a sibling, then `_swap`). The building
    block for small derived state a maintenance loop folds wholesale (a
    Count-Min base sketch, a watermark table): the directory is
    schema-bounded, so a full rewrite is cheap, and readers see the old
    or the new content at every instant.

    ``source`` is fully materialized into the staging directory BEFORE
    the first rename, so it may (and typically does) read from
    ``dest_path`` itself. Same single-maintenance-process contract as
    compact_directory.

    Returns True when the new content is in place, False when a
    reader's heal restored the OLD content instead. Callers whose
    follow-up work assumes the swap happened — a fold deleting the
    batch partitions it just absorbed — MUST check this: treating the
    no-op as success would destroy the only copy of the unfolded
    state."""
    recover_directory(spark, dest_path)
    hpath, fs = _fs(spark, dest_path)
    staging = dest_path.rstrip("/") + ".replacing"
    fs.delete(hpath(staging), True)  # crashed prior attempt, pre-swap
    (source.coalesce(target_files)
           .write.mode("overwrite").parquet(staging))
    return _swap(hpath, fs, hpath(staging), hpath(dest_path))
