"""DDL + seeding for config/monitoring tables (SURVEY.md §2.1 S9).

Mirrors the reference's standalone DDL notebooks
(ddl/ddl_talkdesk_config.py:8-89, ddl/ddl_talkdesk_monitoring.py:8-41):
CREATE DATABASE / CREATE TABLE IF NOT EXISTS for the four control
tables plus the default endpoint/report seed rows. Differences, by
design:

- table schemas derive from the one set of StructTypes in schemas.py
  (the reference repeats column lists in DDL strings — drift risk);
- the storage format is a parameter (DELTA in production, PARQUET in
  this container — delta jars are absent);
- seeding is idempotent: an anti-join keeps already-present rows from
  duplicating (the reference's comment says "run once or clear before
  re-running" — an operational footgun at best).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from talkdesk_async_etl_spark.schemas import (
    ENDPOINT_CONFIG_SCHEMA,
    JOB_MONITORING_SCHEMA,
    REPORT_CONFIG_SCHEMA,
    REPORT_MONITORING_SCHEMA,
    local_frame,
)

CONFIG_TABLES = {
    "report_config": REPORT_CONFIG_SCHEMA,
    "endpoint_config": ENDPOINT_CONFIG_SCHEMA,
}
MONITORING_TABLES = {
    "job_monitoring": JOB_MONITORING_SCHEMA,
    "report_monitoring": REPORT_MONITORING_SCHEMA,
}

# Default seeds (reference ddl_talkdesk_config.py:36-89): the standard
# endpoint pair and eight reports, each in dev and prod.
_REPORT_NAMES = (
    ("agent_activity", 30),
    ("call_volume", 30),
    ("queue_activity", 30),
    ("call_details", 60),
    ("inbound_calls", 30),
    ("outbound_calls", 30),
    ("service_level", 30),
    ("call_dispositions", 30),
)

ENDPOINT_SEEDS = tuple(
    ("standard", "https://api.talkdesk.com/api/v1", "/oauth/token",
     "/reports/generate", "/reports/download", env)
    for env in ("prod", "dev")
)

REPORT_SEEDS = tuple(
    (name, True, "standard", 3, timeout, env)
    for env in ("prod", "dev")
    for name, timeout in _REPORT_NAMES
)


def _sql_type(dt: T.DataType) -> str:
    return dt.simpleString().upper()


def create_table_sql(
    db: str, name: str, schema: T.StructType, fmt: str = "PARQUET", location: str | None = None
) -> str:
    """CREATE TABLE IF NOT EXISTS text generated from the StructType —
    one source of truth for column shapes (schemas.py)."""
    cols = ",\n    ".join(f"{f.name} {_sql_type(f.dataType)}" for f in schema.fields)
    loc = f"\nLOCATION '{location}/{name}'" if location else ""
    return (
        f"CREATE TABLE IF NOT EXISTS {db}.{name} (\n    {cols}\n)\nUSING {fmt}{loc}"
    )


def create_tables(
    spark: SparkSession, db: str, fmt: str = "PARQUET", location: str | None = None
) -> None:
    """Stand up the config + monitoring control tables (reference
    DDLC:8-34, DDLM:8-41)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    for name, schema in {**CONFIG_TABLES, **MONITORING_TABLES}.items():
        spark.sql(create_table_sql(db, name, schema, fmt=fmt, location=location))


def seed_config(spark: SparkSession, db: str) -> None:
    """Insert the default endpoint/report rows (reference DDLC:36-89),
    idempotently: only rows not already present are appended, so re-runs
    are safe (these are KB-scale control tables — the anti-join is a
    broadcast against a dimension, not a data-path shuffle)."""
    for name, schema, rows in (
        ("endpoint_config", ENDPOINT_CONFIG_SCHEMA, list(ENDPOINT_SEEDS)),
        ("report_config", REPORT_CONFIG_SCHEMA, list(REPORT_SEEDS)),
    ):
        seed_df = local_frame(spark, rows, schema)
        existing = spark.table(f"{db}.{name}")
        missing = seed_df.join(existing, on=list(seed_df.columns), how="left_anti")
        missing.write.mode("append").insertInto(f"{db}.{name}")


def bootstrap(spark: SparkSession, db: str, fmt: str = "PARQUET", location: str | None = None) -> None:
    """DDL + seed in one call — the 'stand up a fresh environment' path."""
    create_tables(spark, db, fmt=fmt, location=location)
    seed_config(spark, db)


def load_config_tables(spark: SparkSession, db: str):
    """The catalog-backed config pair for ``build_report_plan`` — the
    production-profile replacement for in-memory dataclasses."""
    return spark.table(f"{db}.report_config"), spark.table(f"{db}.endpoint_config")
