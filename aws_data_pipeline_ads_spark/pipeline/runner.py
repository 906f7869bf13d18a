"""Pipeline orchestration (SURVEY.md §2A ops 2-4, 22-24).

Reproduces the reference's lambda_handler control flow
(/root/reference/lambda/lambda_function.py:34-148): per-source
extract → transform → load with continue-on-error isolation, accumulated
run metrics, and a run-summary write — except each source branch is a
Spark job, so "batch_size"/"parallel_processing" knobs (config.json:58-59)
are subsumed by Spark partitioning.
"""

from __future__ import annotations

import datetime as dt
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from aws_data_pipeline_ads_spark.pipeline.envelope import transform_source
from aws_data_pipeline_ads_spark.pipeline.metrics import observed_count
from aws_data_pipeline_ads_spark.pipeline.quality import remove_duplicates
from aws_data_pipeline_ads_spark.pipeline.sink import (
    write_manifest, write_partitioned, write_run_summary,
)
from aws_data_pipeline_ads_spark.sources.http_json import (
    HttpGet, fetch_records, records_to_df,
)
from aws_data_pipeline_ads_spark.sources.registry import PipelineConfig


@dataclass
class SourceResult:
    source: str
    n_records: int = 0
    path: str | None = None
    error: str | None = None


@dataclass
class RunResult:
    execution_id: str
    results: list[SourceResult] = field(default_factory=list)
    duration_seconds: float = 0.0

    @property
    def total_records(self) -> int:
        return sum(r.n_records for r in self.results if r.error is None)

    @property
    def errors(self) -> list[str]:
        return [f"{r.source}: {r.error}" for r in self.results if r.error]

    def summary(self, sources_configured: int, date: dt.date) -> dict:
        ok = [r for r in self.results if r.error is None]
        return {
            "execution_id": self.execution_id,
            "date": str(date),
            "sources_configured": sources_configured,
            "sources_processed": len(ok),
            "total_records": self.total_records,
            "files_created": len([r for r in ok if r.path]),
            "errors": self.errors,
            "duration_seconds": self.duration_seconds,
        }


def run_pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    base_path: str,
    as_of: dt.datetime | None = None,
    http_get: HttpGet | None = None,
    execution_id: str | None = None,
) -> RunResult:
    """One pipeline run: every configured source, isolated failures.

    A failing source records its error and the run continues
    (error_handling='continue', reference :104-110); the summary lands
    in `{base_path}/metadata/executions` either way.
    """
    t0 = time.time()
    run = RunResult(execution_id or uuid.uuid4().hex[:12])
    date = (as_of or dt.datetime.now()).date()

    for name, src_cfg in config.sources.items():
        res = SourceResult(source=name)
        try:
            records = fetch_records(src_cfg, http_get=http_get)
            if not records:  # reference skips empty loads (:88,101-102)
                run.results.append(res)
                continue
            raw = records_to_df(spark, records)
            shaped = transform_source(raw, name, as_of)
            if config.processing.remove_duplicates:
                shaped = remove_duplicates(shaped, ["record_id"])
            # Observation piggybacks the count on the write job — one
            # scan, not count()+write (the 100 TB double-pass trap).
            shaped, obs = observed_count(shaped)
            res.path = write_partitioned(shaped, f"{base_path}/data", config.output)
            res.n_records = int(obs.get["n_records"])
        except Exception as e:  # noqa: BLE001 — op 3: isolate, continue
            res.error = f"{type(e).__name__}: {e}"
        run.results.append(res)

    run.duration_seconds = round(time.time() - t0, 3)
    write_run_summary(
        spark,
        run.summary(len(config.sources), date),
        f"{base_path}/metadata/executions",
    )
    # D12 manifest zone: snapshot of data files visible after this run.
    write_manifest(spark, f"{base_path}/data", f"{base_path}/manifest",
                   run.execution_id)
    return run
