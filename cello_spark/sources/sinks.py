"""Sinks: bucketed triple-table writes.

Production target is an Iceberg table with explicit bucket-by-subject
partitioning (`PARTITIONED BY (bucket(N, subj))`), which gives:
- co-located joins on subj without a shuffle (storage-partitioned join)
- partition pruning for per-doc lookups
- atomic snapshot commits → the unit of the pipeline's resumability.

The Iceberg runtime jars are not on this sandbox classpath, so the
writer degrades to plain parquet with an explicit `bucket` column and
`partitionBy("bucket")` — the same layout on disk, minus snapshot
metadata (the stage manifest in plans/pipeline.py supplies the
atomicity instead: outputs land in a temp dir, the manifest entry is
the commit point).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

DEFAULT_BUCKETS = 32


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def write_bucketed(
    df: DataFrame,
    path_or_table: str,
    bucket_col: str = "subj",
    n_buckets: int = DEFAULT_BUCKETS,
    mode: str = "overwrite",
) -> None:
    """Bucket-partitioned write. With Iceberg on the classpath this
    would be:

        df.writeTo(tbl).partitionedBy(bucket(n, col)).createOrReplace()

    Parquet fallback: deterministic bucket column + partitionBy, with a
    repartition on (bucket) so each output partition is written by the
    tasks that own it (no tiny-file explosion)."""
    spark = df.sparkSession
    if iceberg_available(spark) and not path_or_table.startswith("/"):
        writer = (
            df.writeTo(path_or_table)
            .using("iceberg")
            .partitionedBy(F.bucket(n_buckets, F.col(bucket_col)))
        )
        # honor `mode` exactly like the parquet fallback does — a
        # silent createOrReplace on mode="append" would be data loss
        if mode == "overwrite":
            writer.createOrReplace()
        elif mode == "append":
            writer.append()
        else:
            raise ValueError(
                f"write_bucketed: unsupported mode {mode!r} for the "
                "Iceberg path (use 'overwrite' or 'append')"
            )
        return
    out = df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(bucket_col)), F.lit(n_buckets))
    )
    (
        out.repartition(n_buckets, "bucket")
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(path_or_table)
    )


def table_file_stats(path: str) -> dict:
    """Small-file detector: file count / byte totals for a parquet
    directory tree (driver-side listing, metadata only — no Spark
    job). The signal that schedules `compact_table`: a 100 TB triple
    table written by many incremental micro-batches accretes tiny
    files whose per-file open/footer cost eventually dominates scans."""
    import os

    n, total, largest = 0, 0, 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            sz = os.path.getsize(os.path.join(root, fn))
            n += 1
            total += sz
            largest = max(largest, sz)
    return {
        "n_files": n,
        "total_bytes": total,
        "avg_bytes": total // n if n else 0,
        "largest_bytes": largest,
    }


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: str | None = None,
    sort_cols: tuple[str, ...] = (),
) -> dict:
    """Rewrite a parquet directory into ~total/target files, optionally
    range-clustered on `sort_cols` — the maintenance job every
    long-lived incremental table needs (Iceberg calls it
    rewrite_data_files; this is the parquet-fallback analog, matching
    write_bucketed's degraded mode).

    sort_cols engages repartitionByRange + sortWithinPartitions:
    globally range-partitioned, within-file sorted output, so parquet
    row-group min/max statistics prune scans on the sort prefix (the
    one-dimensional analog of Iceberg sort orders). With partition_by
    the repartition is HASHED ON THE PARTITION COLUMN so each task
    holds few partition values — a round-robin repartition before a
    partitioned write would emit one file per (task, value) and make
    fragmentation WORSE, not better.

    Swap protocol: output lands in a sibling temp dir, then two
    renames (path -> .__compact_old, tmp -> path). A crash between
    the renames leaves a brief no-table window; the next invocation
    self-heals (old restored if path is missing, stale tmp/old debris
    removed). True snapshot-atomic commits are what the Iceberg path
    provides at scale — this is the parquet-fallback contract, same
    as write_bucketed's. Returns before/after file stats."""
    import os
    import shutil

    p = path.rstrip("/")
    tmp = p + ".__compact_tmp"
    old = p + ".__compact_old"
    # crash recovery: a previous run that died between its two renames
    # left the live tree stranded in `old` — restore it first
    if os.path.exists(old) and not os.path.exists(p):
        os.rename(old, p)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)

    before = table_file_stats(path)
    n_files = max(1, -(-before["total_bytes"] // target_file_bytes))
    df = spark.read.parquet(path)
    if partition_by:
        # co-locate each partition value in few tasks; secondary sort
        # still gives within-file clustering on the sort prefix
        df = df.repartition(n_files, F.col(partition_by))
        if sort_cols:
            df = df.sortWithinPartitions(partition_by, *sort_cols)
    elif sort_cols:
        df = df.repartitionByRange(n_files, *[F.col(c) for c in sort_cols])
        df = df.sortWithinPartitions(*sort_cols)
    else:
        df = df.repartition(n_files)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(tmp)
    os.rename(p, old)
    os.rename(tmp, p)
    shutil.rmtree(old, ignore_errors=True)
    after = table_file_stats(path)
    return {"before": before, "after": after, "target_files": n_files}
