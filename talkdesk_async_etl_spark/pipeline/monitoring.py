"""Monitoring store (SURVEY.md §2.1 S6-S8, §1.2).

One interface, two backends (the reference has two stores: Delta
tables on Databricks, DB:208-278, and SQLite locally, MON:21-147):

- ``MonitoringStore`` — append-only parquet in a local directory; the
  reference's SQL ``UPDATE job_monitoring`` (DB:245-253) becomes
  append-then-latest-wins: job close appends a second row per run_id
  and readers take the latest by end_time/row order (the W1 window
  pattern) — the plan that still works when the sink is an immutable
  table. Appends are pyarrow file writes, like the reference's local
  SQLite inserts (MON:21-147), not Spark jobs; reads are Spark.
- ``MergeMonitoringStore`` — catalog tables with ``MERGE INTO``
  upserts, selected by ``make_monitoring_store`` when a
  MERGE-capable format (Delta) is on the classpath.

Status rules preserved exactly (§1.2):
- report: RUNNING → SUCCESS | FAILED (MON:66,126)
- job: fail==0 → SUCCESS; ok==0 → FAILED; else PARTIAL_SUCCESS
  (DB:563-568); zero reports → SUCCESS-with-0 (MON:99-100 local rule
  normalizes to SUCCESS since nothing failed).
"""

from __future__ import annotations

import datetime as dt
import os
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from talkdesk_async_etl_spark.schemas import (
    JOB_MONITORING_SCHEMA,
    REPORT_MONITORING_SCHEMA,
    arrow_table,
    local_frame,
)
from talkdesk_async_etl_spark.sources.io import os_path


def new_run_id() -> str:
    """UUID4 run ids (reference DB:518, DIST:230)."""
    return str(uuid.uuid4())


def utc_now() -> dt.datetime:
    """Engine standardizes UTC (the reference mixes local and UTC —
    LOC:33 vs DB:495)."""
    return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


def derive_job_status(total: int, ok: int, fail: int) -> str:
    """Reference DB:563-568 / MON:96-106."""
    if total == 0 or fail == 0:
        return "SUCCESS"
    if ok == 0:
        return "FAILED"
    return "PARTIAL_SUCCESS"


@dataclass(frozen=True)
class ReportResult:
    report_name: str
    status: str  # SUCCESS | FAILED
    rows_written: int
    output_path: str | None = None
    error_message: str | None = None
    start_time: dt.datetime | None = None
    end_time: dt.datetime | None = None


def _summary_from_reports(reports: DataFrame, run_id: str) -> dict:
    """Per-run counts in one aggregate pass (replaces the reference's
    three correlated COUNT(*) queries, MON:71-90)."""
    agg = (
        reports.filter(F.col("run_id") == run_id)
        .agg(
            F.count("*").alias("total"),
            F.sum(F.when(F.col("status") == "SUCCESS", 1).otherwise(0)).alias("ok"),
            F.sum(F.when(F.col("status") == "FAILED", 1).otherwise(0)).alias("fail"),
        )
        .first()
    )
    return {"total": agg["total"] or 0, "ok": int(agg["ok"] or 0), "fail": int(agg["fail"] or 0)}


def merge_capable(spark: SparkSession) -> bool:
    """True when a MERGE-supporting table format (Delta) is on the
    classpath — the production S7 path; this container has no delta
    jars, so the parquet append-latest-wins store is selected."""
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        pass
    exts = spark.conf.get("spark.sql.extensions", "") or ""
    return "DeltaSparkSessionExtension" in exts


def make_monitoring_store(
    spark: SparkSession, base_dir: str, catalog_db: str | None = None
):
    """Backend selection behind one interface: MERGE-into-catalog when
    Delta is available and a catalog db is configured, else
    append-then-latest-wins parquet."""
    if catalog_db is not None and merge_capable(spark):
        return MergeMonitoringStore(spark, catalog_db)
    return MonitoringStore(spark, base_dir)


class MergeMonitoringStore:
    """Catalog-table monitoring sink using in-place upserts — the
    reference's actual write shape (``UPDATE talkdesk_prod.
    job_monitoring ... WHERE run_id``, DB:245-253), expressed as
    ``MERGE INTO`` so the close-row either updates the open row or
    inserts (idempotent under retries, unlike a blind UPDATE+INSERT
    pair).

    Rows travel as a temp view built from a typed DataFrame — no SQL
    string interpolation anywhere (the reference hand-escapes quotes
    into SQL literals, DB:226-228; a temp-view USING clause makes that
    entire bug class unrepresentable).

    Requires a MERGE-capable format (Delta). The ``sql`` callable is
    injectable so the statement contract is unit-testable without
    delta jars; tables come from ddl.create_tables.
    """

    def __init__(self, spark: SparkSession, db: str, sql=None):
        self.spark = spark
        self.db = db
        self._sql = sql if sql is not None else spark.sql

    def _merge(self, table: str, rows: list, schema, on: tuple[str, ...], update_cols: tuple[str, ...]) -> None:
        # Temp views are session-global: a fixed name would let two
        # concurrent pipeline runs in one SparkSession merge each
        # other's rows. A per-call unique suffix isolates them; the
        # view is dropped after the statement so the catalog doesn't
        # accumulate one view per merge.
        src = f"_merge_src_{table}_{uuid.uuid4().hex}"
        local_frame(self.spark, rows, schema).createOrReplaceTempView(src)
        try:
            cond = " AND ".join(f"t.{k} = s.{k}" for k in on)
            sets = ", ".join(f"t.{c} = s.{c}" for c in update_cols)
            self._sql(
                f"MERGE INTO {self.db}.{table} t USING {src} s ON {cond} "
                f"WHEN MATCHED THEN UPDATE SET {sets} "
                f"WHEN NOT MATCHED THEN INSERT *"
            )
        finally:
            self.spark.catalog.dropTempView(src)

    def log_job_start(self, run_id: str, from_date: str, to_date: str, total_reports: int) -> None:
        rows = [
            (run_id, from_date, to_date, utc_now(), None, "RUNNING", total_reports, None, None, None)
        ]
        # end_time/success_count/failed_count/error_message are in the
        # update set (as NULLs from the source row) so a RESTARTED
        # run_id reads as cleanly RUNNING — without them the re-opened
        # row would keep the previous attempt's close timestamps and
        # counts alongside status=RUNNING.
        self._merge(
            "job_monitoring", rows, JOB_MONITORING_SCHEMA, on=("run_id",),
            update_cols=(
                "from_date", "to_date", "start_time", "status", "total_reports",
                "end_time", "success_count", "failed_count", "error_message",
            ),
        )

    def log_job_end(
        self, run_id: str, from_date: str, to_date: str, total: int, ok: int, fail: int,
        error_message: str | None = None,
    ) -> str:
        status = derive_job_status(total, ok, fail) if error_message is None else "FAILED"
        rows = [(run_id, from_date, to_date, None, utc_now(), status, total, ok, fail, error_message)]
        self._merge(
            "job_monitoring", rows, JOB_MONITORING_SCHEMA, on=("run_id",),
            update_cols=("end_time", "status", "success_count", "failed_count", "error_message"),
        )
        return status

    def log_reports(self, run_id: str, from_date: str, to_date: str, results: list["ReportResult"]) -> None:
        if not results:
            return
        rows = [
            (
                run_id, r.report_name, from_date, to_date, r.start_time, r.end_time,
                r.status, r.rows_written, r.error_message,
            )
            for r in results
        ]
        self._merge(
            "report_monitoring", rows, REPORT_MONITORING_SCHEMA,
            on=("run_id", "report_name"),
            update_cols=("status", "rows_written", "error_message", "start_time", "end_time"),
        )

    def jobs(self) -> DataFrame:
        # MERGE keeps one row per run_id — no latest-wins dedup needed.
        return self.spark.table(f"{self.db}.job_monitoring")

    def reports(self) -> DataFrame:
        return self.spark.table(f"{self.db}.report_monitoring")

    def job_summary(self, run_id: str) -> dict:
        return _summary_from_reports(self.reports(), run_id)


class MonitoringStore:
    """Parquet-append monitoring sink with latest-wins reads, in a local
    directory (``base_dir``; a ``file:`` URI with no remote authority
    is accepted). A remote URI raises ``ValueError``: the appends are
    local file writes. Remote tables go through
    ``make_monitoring_store(..., catalog_db=...)`` and
    ``MergeMonitoringStore``."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = os_path(
            base_dir,
            "MonitoringStore appends with local file writes and needs a local directory",
            "For remote monitoring tables use make_monitoring_store(spark, base_dir, "
            "catalog_db=...), which selects MergeMonitoringStore when Delta is available.",
        )
        self.job_path = os.path.join(self.base, "job_monitoring")
        self.report_path = os.path.join(self.base, "report_monitoring")

    # -- writes (append-only; each is one parquet file, no Spark job) --

    def _append(self, rows: list[tuple], schema, path: str) -> None:
        """Write ``rows`` as one new parquet file in ``path``.

        The table is built first (``schemas.arrow_table``), so a row the
        schema forbids raises before anything touches the directory.
        The file is written under a hidden name and renamed into place:
        Spark's file index skips dot-files, so a reader never sees a
        partial file, and a failed write leaves no file. Each append has
        its own uuid name, so concurrent appends share nothing."""
        import pyarrow.parquet as pq

        table = arrow_table(rows, schema)
        os.makedirs(path, exist_ok=True)
        name = f"part-{uuid.uuid4()}.parquet"
        tmp = os.path.join(path, f".{name}")
        try:
            pq.write_table(table, tmp)
            os.replace(tmp, os.path.join(path, name))
        except BaseException:
            if os.path.exists(tmp):
                os.remove(tmp)
            raise

    def log_job_start(self, run_id: str, from_date: str, to_date: str, total_reports: int) -> None:
        row = [
            (run_id, from_date, to_date, utc_now(), None, "RUNNING", total_reports, None, None, None)
        ]
        self._append(row, JOB_MONITORING_SCHEMA, self.job_path)

    def log_job_end(
        self, run_id: str, from_date: str, to_date: str, total: int, ok: int, fail: int,
        error_message: str | None = None,
    ) -> str:
        status = derive_job_status(total, ok, fail) if error_message is None else "FAILED"
        row = [(run_id, from_date, to_date, None, utc_now(), status, total, ok, fail, error_message)]
        self._append(row, JOB_MONITORING_SCHEMA, self.job_path)
        return status

    def log_reports(self, run_id: str, from_date: str, to_date: str, results: list[ReportResult]) -> None:
        """ONE append for all report outcomes of a run — the reference
        writes one Delta commit per report (DB:448-456), N tiny
        transactions; batching is the scale-correct shape."""
        if not results:
            return
        rows = [
            (
                run_id, r.report_name, from_date, to_date, r.start_time, r.end_time,
                r.status, r.rows_written, r.error_message,
            )
            for r in results
        ]
        self._append(rows, REPORT_MONITORING_SCHEMA, self.report_path)

    # -- reads ----------------------------------------------------------

    def jobs(self) -> DataFrame:
        """Latest state per run_id (append-then-latest-wins replaces the
        reference's in-place UPDATE, DB:245-253)."""
        raw = self.spark.read.parquet(self.job_path)
        w = Window.partitionBy("run_id").orderBy(
            F.col("end_time").desc_nulls_last(), F.col("start_time").desc_nulls_last()
        )
        return (
            raw.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
        )

    def reports(self) -> DataFrame:
        """Latest row per (run_id, report_name): a Spark task retry or
        an operator re-run can append a duplicate status row; readers
        must stay idempotent (SURVEY.md §7 risk register). Same W1
        latest-wins pattern as jobs()."""
        raw = self.spark.read.parquet(self.report_path)
        w = Window.partitionBy("run_id", "report_name").orderBy(
            F.col("end_time").desc_nulls_last(), F.col("start_time").desc_nulls_last()
        )
        return raw.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")

    def job_summary(self, run_id: str) -> dict:
        return _summary_from_reports(self.reports(), run_id)
