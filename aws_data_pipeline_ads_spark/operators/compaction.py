"""Small-file compaction (lakehouse OPTIMIZE) for parquet directories.

Streaming ingest and per-task dynamic-partition writes leave behind
many files far below the scan-efficient size (the reference's
timestamped-unique-filename sink — lambda/lambda_function.py writes one
object per run — is exactly this pattern at scale). Small files hurt
twice at 100 TB: NameNode/listing pressure, and scan tasks whose
startup dominates their I/O.

Shape: ONE metadata listing (no data scan) sizes the problem, ONE
shuffle rewrites it. Per partition directory the target file count is
ceil(bytes/target); rows hash into that many buckets via a broadcast
map, the single exchange co-locates (partition, bucket), and each
reducer task writes one file per partition dir it holds. No driver-side
per-partition job loop — 10k partition dirs are one job, not 10k.

The rewrite lands data in a staging dir first, then two FS renames
swap it in: readers see old files or new files, never a mix — but the
table path is briefly ABSENT between the renames, so a concurrent
reader can error during the swap. The crash-safety argument assumes
HDFS-like atomic directory rename; on object stores (S3A) rename is a
non-atomic O(data) copy and a real deployment should publish via a
manifest/metastore pointer flip instead. The pre-compaction data
survives under `<path>.pre-compact` until the swap completes, then is
deleted; every failure path names the directory that still holds it.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_data_pipeline_ads_spark.pipeline.sink import list_data_files
from aws_data_pipeline_ads_spark.session import local_frame

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def compaction_stats(spark: SparkSession, path: str,
                     target_bytes: int = DEFAULT_TARGET_BYTES) -> dict:
    """Metadata-only health report: how fragmented is this table?"""
    files = list_data_files(spark, path)
    total = sum(b for _, b, _ in files)
    small = [b for _, b, _ in files if b < target_bytes // 2]
    return {
        "n_files": len(files),
        "total_bytes": total,
        "n_small_files": len(small),
        "small_bytes": sum(small),
        "ideal_files": max(1, math.ceil(total / target_bytes)),
    }


def _partition_dir_bytes(files: list[tuple[str, int, int]],
                         partition_cols: tuple[str, ...]) -> dict[tuple, int]:
    """bytes per partition-dir, keyed by the partition VALUES parsed
    from the Hive `col=value` path segments (metadata only).

    The Hive writer percent-encodes special characters (space, ':',
    '%') in path segments — unquote so the values match what the read
    surfaces; the null-partition sentinel __HIVE_DEFAULT_PARTITION__
    maps to None (joined null-safely by the caller)."""
    from urllib.parse import unquote

    out: dict[tuple, int] = {}
    for fpath, fbytes, _ in files:
        vals: dict[str, str | None] = {}
        for seg in fpath.split("/"):
            if "=" in seg:
                k, _, v = seg.partition("=")
                if k in partition_cols:
                    vals[k] = (
                        None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
                    )
        key = tuple(vals.get(c) for c in partition_cols)
        out[key] = out.get(key, 0) + fbytes
    return out


def compact_files(spark: SparkSession, path: str,
                  target_bytes: int = DEFAULT_TARGET_BYTES,
                  partition_cols: tuple[str, ...] = ()) -> dict:
    """Rewrite a parquet directory into ≈target_bytes files, preserving
    the Hive partition layout. Returns before/after stats."""
    before = compaction_stats(spark, path, target_bytes)
    files = list_data_files(spark, path)
    per_dir = _partition_dir_bytes(files, partition_cols)

    df = spark.read.parquet(path)
    data_cols = [c for c in df.columns if c not in partition_cols]

    if partition_cols:
        # broadcast (partition values → bucket count) into the scan;
        # the map has one row per partition DIR — bounded metadata,
        # the same class as a dim broadcast.
        rows = [
            tuple(list(key) + [max(1, math.ceil(b / target_bytes))])
            for key, b in per_dir.items()
        ]
        schema = ", ".join(f"__p_{c} string" for c in partition_cols) + ", __nfiles int"
        nmap = local_frame(spark, rows, schema)
        joined = df
        for c in partition_cols:
            # partition values surface as their read types; compare as
            # string to match the path-parsed map. eqNullSafe pairs the
            # null partition (__HIVE_DEFAULT_PARTITION__ dirs) with its
            # None map key instead of silently falling back to 1 file.
            joined = joined.withColumn(f"__k_{c}", F.col(c).cast("string"))
        cond = [
            F.col(f"__k_{c}").eqNullSafe(F.col(f"__p_{c}"))
            for c in partition_cols
        ]
        joined = joined.join(F.broadcast(nmap), cond, "left").drop(
            *[f"__k_{c}" for c in partition_cols],
            *[f"__p_{c}" for c in partition_cols])
        bucketed = joined.withColumn(
            "__bucket",
            F.pmod(F.xxhash64(*[F.col(c) for c in data_cols]),
                   F.coalesce(F.col("__nfiles"), F.lit(1))),
        ).drop("__nfiles")
        n_tasks = sum(r[-1] for r in rows)
        writer = (
            bucketed.repartition(max(1, n_tasks), *partition_cols, F.col("__bucket"))
            .drop("__bucket")
            .write.mode("overwrite")
            .partitionBy(*partition_cols)
        )
    else:
        n_files = before["ideal_files"]
        writer = (
            df.withColumn(
                "__bucket",
                F.pmod(F.xxhash64(*[F.col(c) for c in data_cols]), F.lit(n_files)),
            )
            .repartition(n_files, F.col("__bucket"))
            .drop("__bucket")
            .write.mode("overwrite")
        )

    staging = path.rstrip("/") + ".compact-staging"
    trash = path.rstrip("/") + ".pre-compact"
    writer.parquet(staging)

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    jstaging = jvm.org.apache.hadoop.fs.Path(staging)
    jtrash = jvm.org.apache.hadoop.fs.Path(trash)
    if fs.exists(jtrash):
        fs.delete(jtrash, True)
    if not fs.rename(hpath, jtrash):
        raise IOError(f"compaction swap failed: could not move {path} aside")
    if not fs.rename(jstaging, hpath):
        if fs.rename(jtrash, hpath):  # roll back — old data intact
            raise IOError(
                f"compaction swap failed: could not publish {staging}; "
                f"original data restored at {path}"
            )
        raise IOError(
            f"compaction swap failed AND rollback failed: original data "
            f"is intact but stranded at {trash}; new data at {staging}; "
            f"{path} does not exist — restore by renaming {trash} back"
        )
    fs.delete(jtrash, True)

    after = compaction_stats(spark, path, target_bytes)
    return {"before": before, "after": after}
