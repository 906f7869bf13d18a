"""session.local_frame: driver-side rows through Arrow, row-for-row and
schema-for-schema what `createDataFrame(list)` builds, planned as a JVM
LocalTableScan; plus the ingest path built on it and a guard that keeps
Python-RDD frames out of the package."""

from __future__ import annotations

import ast
import datetime as dt
import decimal
import json
import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from aws_data_pipeline_ads_spark.session import local_frame

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "aws_data_pipeline_ads_spark")

WIDE = T.StructType([
    T.StructField("i", T.IntegerType(), False),
    T.StructField("l", T.LongType()),
    T.StructField("d", T.DoubleType()),
    T.StructField("b", T.BooleanType()),
    T.StructField("s", T.StringType()),
    T.StructField("bin", T.BinaryType()),
    T.StructField("dec", T.DecimalType(38, 6)),
    T.StructField("day", T.DateType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("arr", T.ArrayType(T.LongType())),
    T.StructField("st", T.StructType([
        T.StructField("x", T.IntegerType()),
        T.StructField("t", T.TimestampType()),
    ])),
    T.StructField("m", T.MapType(T.StringType(), T.DoubleType())),
])

UTC = dt.timezone.utc
WIDE_ROWS = [
    (1, 2**40, 1.5, True, "a", b"\x00\xff", decimal.Decimal("12.345678"),
     dt.date(2024, 3, 10), dt.datetime(2024, 3, 10, 2, 30, 0, 123456),
     [1, None, 3], (7, dt.datetime(2024, 1, 1, tzinfo=UTC)), {"k": 0.25}),
    (-2, None, None, None, None, None, None, None, None, None, None, None),
    (3, -1, float("inf"), False, "ü", bytearray(b"x"), decimal.Decimal("-1.5"),
     dt.datetime(1969, 12, 31, 23, 0),
     dt.datetime(2024, 11, 3, 1, 30, tzinfo=dt.timezone(dt.timedelta(hours=-4))),
     [], {"x": None, "t": dt.datetime(2024, 11, 3, 1, 30)}, {"z": None}),
    Row(i=4, l=5, d=0.0, b=True, s="", bin=b"", dec=decimal.Decimal("0"),
        day=dt.date(2000, 2, 29), ts=dt.datetime(2000, 1, 1), arr=[0],
        st=Row(x=1, t=None), m={}),
    {"i": 5, "s": "dict row", "ts": dt.datetime(2030, 6, 1, 12)},
]


def _same(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    return got


def test_local_frame_matches_create_dataframe_row_for_row(spark):
    got = _same(spark, WIDE_ROWS, WIDE)
    assert got.count() == len(WIDE_ROWS)


def test_local_frame_ddl_schema_and_empty_rows(spark):
    _same(spark, [(1, 2), (3, None)], "widx int, w bigint")
    empty = _same(spark, [], WIDE)
    assert empty.count() == 0


def test_local_frame_enforces_the_row_path_contract(spark):
    # non-nullable field: the same verifier error createDataFrame raises
    with pytest.raises(ValueError):
        local_frame(spark, [(None, 1)], "a int not null, b long")
    # wrong Python type for the field
    with pytest.raises(TypeError):
        local_frame(spark, [(1.0,)], "a long")
    # a decimal that would need rounding is not converted exactly
    with pytest.raises(Exception, match="data loss"):
        local_frame(spark, [(decimal.Decimal("1.1234567"),)], "a decimal(38,6)")
    # a type without an exact Arrow conversion raises, even with no rows
    interval = T.StructType([T.StructField("a", T.DayTimeIntervalType())])
    with pytest.raises(TypeError, match="no exact Arrow conversion"):
        local_frame(spark, [], interval)


def test_local_frame_plans_as_local_table_scan(spark):
    df = local_frame(spark, WIDE_ROWS, WIDE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan


def test_local_frame_naive_timestamps_under_new_york_tz():
    """A naive datetime is OS-local wall time on both paths; run in a
    process whose TZ is America/New_York, across both DST switches."""
    script = textwrap.dedent(f"""
        import datetime as dt, sys, time
        sys.path.insert(0, {REPO!r})
        assert time.tzname[0] == "EST", time.tzname
        from aws_data_pipeline_ads_spark.session import get_session, local_frame
        spark = get_session("local-frame-tz", cpus=1, shuffle_partitions=1)
        rows = [(dt.datetime(2024, 3, 10, h, 30), dt.datetime(2024, 11, 3, h, 30,
                 tzinfo=dt.timezone.utc)) for h in range(5)]
        rows += [(dt.datetime(2024, 11, 3, h, 30), None) for h in range(5)]
        schema = "naive timestamp, aware timestamp"
        got = local_frame(spark, rows, schema).collect()
        want = spark.createDataFrame(rows, schema).collect()
        assert got == want, (got, want)
        print("OK", len(got))
    """)
    env = dict(os.environ, TZ="America/New_York")
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    out = subprocess.run([sys.executable, "-c", script], env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "OK 10" in out.stdout


def test_records_to_df_runs_in_the_jvm(spark):
    from aws_data_pipeline_ads_spark.sources.http_json import records_to_df

    recs = [{"id": 1, "tags": ["a"], "nested": {"x": 1.5}}, {"id": 2}]
    df = records_to_df(spark, recs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan
    assert df.schema.simpleString() == (
        "struct<id:bigint,nested:struct<x:double>,tags:array<string>>")
    assert sorted(df.collect()) == sorted([
        Row(id=1, nested=Row(x=1.5), tags=["a"]),
        Row(id=2, nested=None, tags=None)])


def test_records_to_df_reads_like_file_landed_json(spark, tmp_path):
    """One ingest semantics: the same records written as JSON lines and
    read with spark.read.json land the same schema and rows, including
    a record that is itself an array of objects (one row per element)."""
    from aws_data_pipeline_ads_spark.sources.http_json import records_to_df

    recs = [{"a": 1, "b": {"c": [1, 2.5]}}, {"a": "x"}, {},
            [{"a": 2}, {"b": {"c": []}}], 5, None]
    path = tmp_path / "raw.json"
    path.write_text("\n".join(json.dumps(r) for r in recs))
    want = spark.read.json(str(path))
    got = records_to_df(spark, recs)
    assert got.schema == want.schema
    assert sorted(map(str, got.collect())) == sorted(map(str, want.collect()))


def test_run_pipeline_empty_payload_records_zero(spark, tmp_path):
    from aws_data_pipeline_ads_spark.pipeline.runner import run_pipeline
    from aws_data_pipeline_ads_spark.sources.registry import (
        PipelineConfig, SourceConfig,
    )

    def get(url, timeout):
        return 200, json.dumps([])

    cfg = PipelineConfig(sources={
        "marketing": SourceConfig(name="marketing", url="http://x/products")})
    run = run_pipeline(spark, cfg, str(tmp_path), http_get=get)
    assert run.total_records == 0
    assert run.errors == []
    assert [(r.source, r.n_records, r.path) for r in run.results] == [
        ("marketing", 0, None)]
    summary = spark.read.parquet(f"{tmp_path}/metadata/executions").collect()
    assert [(s.total_records, s.n_errors) for s in summary] == [(0, 0)]


def _create_dataframe_calls(path: str) -> list[tuple[int, str]]:
    """(line, enclosing function) of every `.createDataFrame(...)` call."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    out = []

    def walk(node, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                walk(child, child.name)
                continue
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "createDataFrame"):
                out.append((child.lineno, func))
            walk(child, func)

    walk(tree, None)
    return out


def test_no_python_rdd_frames_in_package():
    """createDataFrame appears only inside session.local_frame: any other
    call would build a Python-RDD frame whose actions start Python
    workers."""
    stray = []
    allowed = []
    for d, dirs, names in os.walk(PACKAGE):
        dirs[:] = [x for x in dirs if x != "__pycache__"]
        for n in names:
            if not n.endswith(".py"):
                continue
            path = os.path.join(d, n)
            rel = os.path.relpath(path, REPO)
            for line, func in _create_dataframe_calls(path):
                where = f"{rel}:{line} in {func}"
                if rel == os.path.join(
                        "aws_data_pipeline_ads_spark", "session.py") \
                        and func == "local_frame":
                    allowed.append(where)
                else:
                    stray.append(where)
    assert stray == [], "use session.local_frame instead: " + ", ".join(stray)
    assert len(allowed) == 1
