"""SparkSession factory tuned for this engine.

Local mode is the test harness; the same config block is what we'd ship
to a 1000-executor EMR/Glue cluster (AQE, skew-join handling, Arrow).
Cluster-only knobs (executor sizing, S3A committers) belong in the job
submit config, not here.

`local_frame` is the one way the package turns driver-side Python rows
into a DataFrame: through an Arrow table, so the frame plans as a JVM
`LocalTableScan` and no action over it starts a Python worker.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def get_session(
    app_name: str = "aws-data-pipeline-ads-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    - AQE on: runtime join-strategy switching, skew splitting, partition
      coalescing — the mechanisms that keep plans healthy at 100 TB.
    - shuffle.partitions ~ cores locally; on a real cluster AQE coalesces
      from a high initial number, so this is safe to leave alone there.
    - session timezone pinned UTC so timestamp semantics match the
      DuckDB oracle and are cluster-invariant.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE (r13, measured): canChangeCachedPlanOutputPartitioning=
        # true was tried to coalesce near-empty cache partitions
        # (q_kmv_jaccard's 32-partition ≤2k-row sketch cache) — it DID
        # collapse the cache-scan stages to 1 task, but the per-consumer
        # driver-side re-optimization of the cached plan cost MORE than
        # the tasks saved (steady 3.1-4.2 s → 4.8-5.2 s). Kept at the
        # default false.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Pin the session timezone to UTC (idempotent).

    Query builders that touch timestamps call this so results are
    deterministic regardless of who constructed the session.
    """
    if spark.conf.get("spark.sql.session.timeZone", "") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


# Types local_frame converts exactly. Anything else (intervals, UDTs,
# variants, ...) raises instead of taking some other path.
_LOCAL_ATOMIC = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType, T.StringType, T.BinaryType,
    T.DateType, T.TimestampType, T.TimestampNTZType,
)


def _check_local_type(dt: T.DataType) -> None:
    if isinstance(dt, T.StructType):
        for f in dt.fields:
            _check_local_type(f.dataType)
    elif isinstance(dt, T.ArrayType):
        _check_local_type(dt.elementType)
    elif isinstance(dt, T.MapType):
        _check_local_type(dt.keyType)
        _check_local_type(dt.valueType)
    elif type(dt) not in _LOCAL_ATOMIC:
        raise TypeError(f"local_frame: no exact Arrow conversion for {dt}")


def _struct_values(st: T.StructType, obj) -> list:
    """A struct value's fields in schema order, read the way PySpark's
    row path reads them: dicts and dict-built Rows by name, other
    tuples and lists by position (the verifier has checked the arity)."""
    if isinstance(obj, dict):
        return [obj.get(n) for n in st.names]
    if isinstance(obj, T.Row) and getattr(obj, "__from_dict__", False):
        return [obj[n] for n in st.names]
    if isinstance(obj, (tuple, list)):
        return list(obj)
    raise TypeError(f"local_frame: cannot read a struct from {type(obj).__name__}")


def _arrow_value(dt: T.DataType, v):
    """One verified Python value in the form pyarrow builds `dt`'s Arrow
    type from. Dates and timestamps go through the Spark type's own
    `toInternal`, the conversion `createDataFrame(list)` applies: a naive
    datetime is OS-local wall time (time.mktime), an aware one its UTC
    instant."""
    if v is None:
        return None
    if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return dt.toInternal(v)
    if isinstance(dt, T.ArrayType):
        return [_arrow_value(dt.elementType, x) for x in v]
    if isinstance(dt, T.MapType):
        return [(_arrow_value(dt.keyType, k), _arrow_value(dt.valueType, x))
                for k, x in v.items()]
    if isinstance(dt, T.StructType):
        return {f.name: _arrow_value(f.dataType, x)
                for f, x in zip(dt.fields, _struct_values(dt, v))}
    return v


def local_frame(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """Driver-side rows as a DataFrame that runs in the JVM.

    `spark.createDataFrame(list)` backs the frame with a Python RDD, so
    every action over it runs Python-worker tasks on
    defaultParallelism partitions. This builds a `pyarrow.Table` typed
    from `schema` instead; Spark plans it as a `LocalTableScan` (an
    in-JVM RDD above `spark.sql.execution.arrow.localRelationThreshold`)
    and no action starts a Python worker.

    Same contract as `createDataFrame(rows, schema)`: rows are tuples,
    lists, Rows or dicts, `schema` a StructType or DDL string, and each
    row passes PySpark's own schema verifier (Python types, int ranges,
    nullability) before conversion. Values convert exactly or raise:
    a decimal that would need rounding, or a type outside
    `_LOCAL_ATOMIC` and its arrays, maps and structs, is an error,
    never a fallback to the Python-RDD path.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _make_type_verifier, _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    if not isinstance(schema, T.StructType):
        raise TypeError(f"local_frame: schema must be a struct, got {schema}")
    _check_local_type(schema)
    verify = _make_type_verifier(schema)
    cols: list[list] = [[] for _ in schema.fields]
    for row in rows:
        verify(row)
        for col, f, v in zip(cols, schema.fields, _struct_values(schema, row)):
            col.append(_arrow_value(f.dataType, v))
    arrow_schema = to_arrow_schema(
        schema, error_on_duplicated_field_names_in_struct=True)
    table = pa.Table.from_arrays(
        [pa.array(col, type=af.type) for col, af in zip(cols, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)
