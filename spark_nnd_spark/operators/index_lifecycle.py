"""Shared tombstone-retraction kernel for every persisted index family
(near-dup, BM25 text, MRL prefix, IVF, IVF-PQ).

The lifecycle each family exposes is build → probe → extend → RETRACT
→ compact:

- ``retract``: append the doc/vector ids to an O(retracted) tombstone
  log under ``<index>/tombstones``; every read path anti-joins it
  (broadcast — the log is small by construction), so verdicts/results
  are correct IMMEDIATELY with zero index I/O. The delete-log pattern
  of every LSM/lakehouse store, applied to derived indexes.
- ``compact``: fold the log into the physical tables (idempotent
  anti-join rewrites), rebuild any derived stats, drop the log LAST —
  a crashed compaction stays correct (tombstones still mask) and a
  retry converges.
- re-admission via the family's ``extend_*`` is an UPSERT: the
  overlap's old physical rows are purged first (same rewrite kernel,
  targeted at just the overlapping ids) and its tombstones cleared,
  so a doc retracted and later re-ingested is visible with ONLY its
  new content even when the content changed.

Scale: retraction is an O(retracted) append; probes pay one broadcast
anti-join per index table they scan; compaction is the only O(index)
rewrite and runs on the operator's schedule, not the ingest path.
Rewrites detach from the files they replace with an eager
localCheckpoint, then overwrite them in place.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (table subdir, id column in that table, hive partition column or None)
TableSpec = tuple[str, str, str | None]


def exists(spark, path: str) -> bool:
    """Whether ``path`` exists, asked of the Hadoop FileSystem its
    scheme names (local, HDFS, S3, ...), as Spark's own reads do."""
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    conf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    return hpath.getFileSystem(conf).exists(hpath)


def read_tombstones(spark, path: str) -> DataFrame | None:
    """The retracted ids as a one-column ('id') DataFrame, or None when
    the index has no tombstone log."""
    tdir = f"{path}/tombstones"
    if not exists(spark, tdir):
        return None
    return spark.read.parquet(tdir).select("id").distinct()


def append_tombstones(spark, path: str, ids: DataFrame) -> None:
    """Append ids (first column of ``ids``) to the log. Idempotent
    under retry: duplicate tombstones are harmless — reads are
    distinct + anti-join."""
    ids.select(F.col(ids.columns[0]).alias("id")).distinct().write.mode(
        "append"
    ).parquet(f"{path}/tombstones")


def anti_tombstones(df: DataFrame, tomb: DataFrame | None, id_col: str) -> DataFrame:
    """df minus tombstoned ids (broadcast anti-join); df unchanged when
    there is no log."""
    if tomb is None:
        return df
    return df.join(
        F.broadcast(tomb.select(F.col("id").alias(id_col))), id_col, "left_anti"
    )


def rewrite_minus(spark, path: str, ids: DataFrame, tables: list[TableSpec]) -> None:
    """Rewrite the given index tables without ``ids`` (one-column 'id'
    DataFrame) — the physical-delete kernel shared by compact (all
    tombstones) and the re-admission upsert in extend (just the
    overlap). Each rewrite is an idempotent anti-join; the eager
    localCheckpoints detach ids and each table from the files being
    overwritten."""
    ids = ids.localCheckpoint(eager=True)  # survives any dir's rewrite
    for spec in tables:
        tbl, tbl_id, part = spec[0], spec[1], spec[2]
        # optional 4th element: (repartition_col, [sort_cols]) — a
        # physical layout the table's reads depend on (the BM25
        # postings are token-sorted for row-group pruning; a rewrite
        # must not flatten that)
        layout = spec[3] if len(spec) > 3 else None
        cur = spark.read.parquet(f"{path}/{tbl}")
        kept = cur.join(
            F.broadcast(ids.select(F.col("id").alias(tbl_id))), tbl_id, "left_anti"
        ).localCheckpoint(eager=True)
        if layout is not None:
            repart_col, sort_cols = layout
            kept = kept.repartition(repart_col).sortWithinPartitions(*sort_cols)
        writer = kept.write.mode("overwrite")
        if part is not None:
            writer = writer.partitionBy(part)
        writer.parquet(f"{path}/{tbl}")


def compact(spark, path: str, tables: list[TableSpec]) -> bool:
    """Fold the whole log into the physical tables and drop it. Returns
    False when there was nothing to do. Family-specific derived stats
    (band_stats, BM25 corpus stats) are rebuilt by the caller AFTER
    this returns True and BEFORE it relies on the capped/stored-stats
    paths."""
    tomb = read_tombstones(spark, path)
    if tomb is None:
        return False
    rewrite_minus(spark, path, tomb, tables)
    shutil.rmtree(f"{path}/tombstones")
    return True


def settle_upsert(
    spark,
    path: str,
    new_ids: DataFrame,
    tables: list[TableSpec],
    roster: TableSpec | None = None,
) -> None:
    """The FULL upsert half of extend: settle tombstoned overlap
    (purge + clear tombstones, :func:`settle_readmission`), then purge
    any incoming ids still LIVE in the index — a duplicate submission
    or a crashed re-extension would otherwise append second copies of
    their rows, which survive compaction (rewrites only subtract
    tombstones) and drift every stored-count invariant. After this,
    the batch's appended rows are each id's ONLY rows.

    The live-overlap check reads ``roster`` — an O(ids)-row table
    (default ``tables[0]``, right for families whose first table is
    one-row-per-id). Postings-shaped families (span grams, winnow
    fps, BM25) pass a doc-grain roster explicitly so the common
    no-overlap path reads O(docs) rows, never O(postings). The purge
    itself (rare path: only when an actual duplicate arrives) is the
    shared targeted rewrite over all tables."""
    settle_readmission(spark, path, new_ids, tables)
    r = roster if roster is not None else tables[0]
    ids = new_ids.select(F.col(new_ids.columns[0]).alias("id")).distinct()
    live = (
        spark.read.parquet(f"{path}/{r[0]}")
        .select(F.col(r[1]).alias("id"))
        .join(F.broadcast(ids), "id", "left_semi")
        .distinct()
        .localCheckpoint(eager=True)
    )
    if live.take(1):
        rewrite_minus(spark, path, live, tables)


def settle_readmission(
    spark, path: str, new_ids: DataFrame, tables: list[TableSpec]
) -> None:
    """The upsert half of extend: purge the physical rows of any
    incoming ids that are tombstoned, then clear their tombstones
    (rewriting the log when other retractions remain). No-op for the
    common pure-append extension. Call BEFORE appending the batch."""
    tomb = read_tombstones(spark, path)
    if tomb is None:
        return
    new_ids = new_ids.select(F.col(new_ids.columns[0]).alias("id")).distinct()
    readmitted = tomb.join(F.broadcast(new_ids), "id", "left_semi")
    if readmitted.isEmpty():
        return
    rewrite_minus(spark, path, readmitted, tables)
    remaining = tomb.join(F.broadcast(new_ids), "id", "left_anti").localCheckpoint(
        eager=True
    )
    if remaining.isEmpty():
        shutil.rmtree(f"{path}/tombstones")
    else:
        remaining.write.mode("overwrite").parquet(f"{path}/tombstones")
