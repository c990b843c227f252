"""Pipeline runner (SURVEY.md §2.12, §3): config scan → plan build →
fan-out → ingest → normalize → sink → monitoring.

Two fan-out profiles, replacing the reference's three codebases:

- ``driver-async`` — one asyncio gather on the driver (reference
  local/talkdesk_local_etl.py:100-115 and DB:535-558). Right for
  ≤ ~50 reports (reference envelope, README.md:204-207).
- ``distributed`` — the reference's broken
  ``repartition(n).rdd.foreachPartition`` (DIST:244-256, which calls
  ``spark.createDataFrame`` on executors — bug E6) re-done the
  Spark-native way: ``mapInPandas`` over the config DataFrame, each
  partition runs its own asyncio loop and RETURNS status rows; the
  driver writes monitoring ONCE. Concurrency is bounded per partition
  (the reference's unbounded gather is bug-adjacent at thousands of
  reports).

Fixed vs the reference: E6 (executor-side Spark calls), E7 (hardcoded
``talkdesk_prod`` table name — env derives every path here), unbounded
concurrency, one-Delta-commit-per-report.
"""

from __future__ import annotations

import asyncio
import io
import os
from dataclasses import asdict, dataclass
from typing import Iterator

import pandas as pd

from pyspark.sql import SparkSession

from talkdesk_async_etl_spark.pipeline.config import (
    PipelineConfig,
    build_report_plan,
    config_dataframes,
)
from talkdesk_async_etl_spark.pipeline.monitoring import (
    MonitoringStore,
    ReportResult,
    new_run_id,
    utc_now,
)
from talkdesk_async_etl_spark.pipeline.retry import RetryPolicy
from talkdesk_async_etl_spark.sources.http_source import ReportSource, fetch_report_csv

# Reference DIST:39: ~100 reports per partition for connector fan-out.
PARTITION_TARGET_SIZE = 100
MAX_CONCURRENCY_PER_LOOP = 32


@dataclass(frozen=True)
class RunOutcome:
    run_id: str
    status: str
    total: int
    ok: int
    fail: int
    results: tuple[ReportResult, ...]


async def _process_one(
    source: ReportSource,
    report_name: str,
    retries: int,
    from_date: str,
    to_date: str,
    output_base: str,
) -> ReportResult:
    """One report: POST id → GET CSV → count rows → write CSV
    (reference DB:390-471). Row counting uses pandas exactly as the
    reference does (DB:437); the engine-side normalize-to-parquet path
    is a separate batch stage (sources.io.read_csv). The payload is
    written as the bytes served."""
    start = utc_now()
    policy = RetryPolicy(max_attempts=max(1, retries))
    try:
        body = await fetch_report_csv(source, report_name, from_date, to_date, policy)
        # Blank by the text rule: str.strip() also drops NBSP, the
        # \x1c-\x1f separators and other Unicode spaces, which
        # bytes.strip() keeps.
        blank = not body.decode("utf-8", errors="replace").strip()
        rows = 0 if blank else len(pd.read_csv(io.BytesIO(body), encoding_errors="replace"))
        out_dir = os.path.join(output_base, report_name)
        os.makedirs(out_dir, exist_ok=True)
        out_path = os.path.join(out_dir, f"{from_date}_to_{to_date}.csv")
        with open(out_path, "wb") as fh:
            fh.write(body)
        return ReportResult(
            report_name=report_name,
            status="SUCCESS",
            rows_written=rows,
            output_path=out_path,
            start_time=start,
            end_time=utc_now(),
        )
    except Exception as exc:  # noqa: BLE001 — per-report isolation (DB:460-471)
        return ReportResult(
            report_name=report_name,
            status="FAILED",
            rows_written=0,
            error_message=str(exc)[:1000],
            start_time=start,
            end_time=utc_now(),
        )


async def _gather_bounded(coros, limit: int = MAX_CONCURRENCY_PER_LOOP):
    sem = asyncio.Semaphore(limit)

    async def bounded(c):
        async with sem:
            return await c

    return await asyncio.gather(*[bounded(c) for c in coros])


def run_pipeline(
    spark: SparkSession,
    cfg: PipelineConfig,
    source: ReportSource,
    monitoring: MonitoringStore,
    from_date: str,
    to_date: str,
    profile: str = "driver-async",
    source_factory=None,
) -> RunOutcome:
    """Execute one pipeline run (reference main(), DB:499-576)."""
    report_df, endpoint_df = config_dataframes(spark, cfg)
    plan = build_report_plan(report_df, endpoint_df, cfg.env)
    # Orchestration boundary: config rows are dimension-sized — this is
    # the ONE place the driver materializes rows (SURVEY.md §1.3).
    report_rows = [r.asDict() for r in plan.select("report_name", "retries", "timeout_sec").collect()]

    run_id = new_run_id()
    monitoring.log_job_start(run_id, from_date, to_date, len(report_rows))

    try:
        if profile == "distributed":
            results = _run_distributed(
                plan, len(report_rows), source_factory or (lambda: source), cfg,
                from_date, to_date,
            )
        else:
            coros = [
                _process_one(
                    source, r["report_name"], r["retries"], from_date, to_date,
                    cfg.output_base_path,
                )
                for r in report_rows
            ]
            results = list(asyncio.run(_gather_bounded(coros)))
    except Exception as exc:  # noqa: BLE001 — job-level failure (DB:572-576)
        monitoring.log_job_end(run_id, from_date, to_date, len(report_rows), 0, 0, str(exc)[:1000])
        raise

    monitoring.log_reports(run_id, from_date, to_date, results)
    ok = sum(1 for r in results if r.status == "SUCCESS")
    fail = len(results) - ok
    status = monitoring.log_job_end(run_id, from_date, to_date, len(results), ok, fail)
    return RunOutcome(run_id, status, len(results), ok, fail, tuple(results))


def _run_distributed(
    plan,
    n_reports: int,
    source_factory,
    cfg: PipelineConfig,
    from_date: str,
    to_date: str,
) -> list[ReportResult]:
    """Distributed fan-out via ``mapInPandas``: partitions of the config
    DataFrame each run a bounded asyncio loop and yield status rows.
    No executor-side SparkSession use (fixes reference bug E6); the
    returned DataFrame is the single source of truth the driver writes.

    ``source_factory`` must be picklable (executors build their own
    source/session — reference DIST:70-76 does the same per-partition).
    ``n_reports`` is the plan's row count, already collected by the
    caller; it sizes the partitions without another job.
    """
    num_partitions = max(1, -(-n_reports // PARTITION_TARGET_SIZE))
    out_base = cfg.output_base_path

    def per_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        source = source_factory()

        async def handle(pdf: pd.DataFrame) -> pd.DataFrame:
            coros = [
                _process_one(
                    source, row.report_name, int(row.retries), from_date, to_date, out_base
                )
                for row in pdf.itertuples()
            ]
            return pd.DataFrame([asdict(r) for r in await _gather_bounded(coros)])

        for pdf in batches:
            if len(pdf):
                yield asyncio.run(handle(pdf))

    # timestamp_ntz: the naive UTC times from utc_now() come back
    # unchanged, whatever the session time zone.
    status_df = plan.repartition(num_partitions).mapInPandas(
        per_partition,
        schema="report_name string, status string, rows_written int, output_path string,"
        " error_message string, start_time timestamp_ntz, end_time timestamp_ntz",
    )
    # status rows only — bounded by report count
    return [ReportResult(**r.asDict()) for r in status_df.collect()]
