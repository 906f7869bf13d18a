"""Partitioned sink + run-summary metadata table (SURVEY.md §2A ops 18-24,
§2B D5-D6).

The reference writes one pretty-printed JSON array per source per run to
data/{source}/date={d}/{source}_{ts}.json plus a summary doc under
metadata/executions/ (/root/reference/lambda/lambda_function.py:314-396).
Spark-first: Hive-partitioned parquet (`source=`/`extracted_date=`) so
partition pruning works, and the run summary is an appended metadata
table instead of loose JSON objects.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_data_pipeline_ads_spark.session import local_frame
from aws_data_pipeline_ads_spark.sources.registry import OutputConfig

SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField("execution_id", T.StringType(), False),
        T.StructField("date", T.StringType(), False),
        T.StructField("sources_configured", T.IntegerType(), False),
        T.StructField("sources_processed", T.IntegerType(), False),
        T.StructField("total_records", T.LongType(), False),
        T.StructField("files_created", T.IntegerType(), False),
        T.StructField("n_errors", T.IntegerType(), False),
        T.StructField("errors", T.ArrayType(T.StringType()), True),
        T.StructField("duration_seconds", T.DoubleType(), True),
    ]
)


def write_partitioned(df: DataFrame, path: str,
                      output: OutputConfig | None = None, mode: str = "append") -> str:
    """op 18 + D5/D6: partitioned write. Task files are auto-unique (the
    reference's timestamped filenames, op 20, exist to avoid collisions
    Spark never has)."""
    out = output or OutputConfig()
    writer = df.write.mode(mode).partitionBy(*out.partition_by)
    if out.compression:
        writer = writer.option("compression", out.compression)
    if out.fmt == "csv":
        # headerless CSV loses the schema on read-back
        writer = writer.option("header", True)
    getattr(writer, out.fmt)(path)
    return path


def lake_sink(df: DataFrame, table, source: str,
              extracted_date: dt.date | str,
              txn_id: str | None = None) -> int:
    """op 19 closed as first-class metadata (ref
    /root/reference/lambda/lambda_function.py:332-337 attaches
    record_count / source / extracted_date as S3 user metadata on
    every written object): commit the batch into a versioned LakeTable
    whose entry carries the same dict as per-commit `meta`
    (record_count auto-derived from the write-time parquet footers —
    no extra scan), and keep `pipeline.source` / `pipeline.last_date`
    as TABLE PROPERTIES that survive compact / restore / clone.
    Returns the committed version."""
    v = table.commit(df, "append", txn_id=txn_id,
                     meta={"source": source,
                           "extracted_date": str(extracted_date)})
    # ONE combined property commit (none at all when already current),
    # retried on a lost head race — concurrent multi-source writers
    # to one table neither thrash versions nor drop an update. The
    # pipeline.* properties are last-writer-wins by design and only
    # meaningful on single-source tables; per-commit `meta` above is
    # the per-batch record.
    want = {"pipeline.source": source,
            "pipeline.last_date": str(extracted_date)}
    pv = table.set_properties(
        want, txn_id=None if txn_id is None else f"{txn_id}:props")
    return max(v, pv)


def write_run_summary(spark: SparkSession, summary: dict, path: str) -> str:
    """ops 22-23: append one summary row to the date-partitioned metadata
    table."""
    row = {
        "execution_id": str(summary["execution_id"]),
        "date": str(summary["date"]),
        "sources_configured": int(summary.get("sources_configured", 0)),
        "sources_processed": int(summary.get("sources_processed", 0)),
        "total_records": int(summary.get("total_records", 0)),
        "files_created": int(summary.get("files_created", 0)),
        "n_errors": len(summary.get("errors", [])),
        "errors": list(summary.get("errors", [])),
        "duration_seconds": float(summary.get("duration_seconds") or 0.0),
    }
    df = local_frame(spark, [row], SUMMARY_SCHEMA)
    df.write.mode("append").partitionBy("date").parquet(path)
    return path


def read_run_summaries(spark: SparkSession, path: str,
                       date: dt.date | str | None = None) -> DataFrame:
    """Partition-pruned read-back of the executions table."""
    df = spark.read.parquet(path)
    if date is not None:
        df = df.filter(F.col("date") == str(date))
    return df


MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("execution_id", T.StringType(), False),
        T.StructField("file", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("modified_ms", T.LongType(), False),
    ]
)


def list_data_files(spark: SparkSession, path: str) -> list[tuple[str, int, int]]:
    """Recursive (file, bytes, mtime_ms) listing via the Hadoop FS API —
    metadata-only, no data scan, works on any Hadoop-compatible store."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return []
    out: list[tuple[str, int, int]] = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue  # _SUCCESS markers, hidden files
        out.append((f.getPath().toString(), f.getLen(), f.getModificationTime()))
    return out


def write_manifest(spark: SparkSession, data_path: str, manifest_path: str,
                   execution_id: str) -> int:
    """§2B D12 manifest zone: snapshot the data files visible after a run.

    Readers that pin a manifest instead of re-listing directories get a
    consistent view — the transaction-log idea (what Delta's _delta_log
    formalizes), which matters on object stores where LIST is slow,
    rate-limited, and eventually consistent at 100 TB directory sizes.
    Returns the number of files recorded.
    """
    files = list_data_files(spark, data_path)
    rows = [
        {"execution_id": execution_id, "file": f, "n_bytes": n, "modified_ms": m}
        for f, n, m in files
    ]
    df = local_frame(spark, rows, MANIFEST_SCHEMA)
    df.write.mode("append").partitionBy("execution_id").parquet(manifest_path)
    return len(rows)


def read_manifest(spark: SparkSession, manifest_path: str,
                  execution_id: str) -> DataFrame:
    """Partition-pruned read of one run's manifest snapshot."""
    return spark.read.parquet(manifest_path).filter(
        F.col("execution_id") == execution_id
    )
