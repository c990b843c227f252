"""Config model (SURVEY.md §1.1): one model for all profiles.

The reference has two config systems — Delta tables on Databricks
(ddl/ddl_talkdesk_config.py:10-34) and a free-form ``config.json``
locally (config.example.json, loaded at local/async_utils.py:11-15).
The engine uses ONE typed model loadable from either: a config
DataFrame pair or a JSON document, both landing in the same dataclasses.
A run's plan (the reference's filter + ``report_config ⋈ endpoint_config``
join, DIST:42-53) resolves on the driver in ``PipelineConfig.report_plan``,
with no Spark job; ``build_report_plan`` is its relational twin.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from talkdesk_async_etl_spark.schemas import ENDPOINT_CONFIG_SCHEMA, REPORT_CONFIG_SCHEMA, local_frame


@dataclass(frozen=True)
class EndpointConfig:
    endpoint_type: str
    base_url: str
    auth_endpoint: str
    post_endpoint: str
    get_endpoint: str
    env: str = "dev"


@dataclass(frozen=True)
class ReportConfig:
    report_name: str
    endpoint_type: str = "standard"
    enabled: bool = True
    retries: int = 3  # reference seed default (ddl_talkdesk_config.py:72-88)
    timeout_sec: int = 30
    env: str = "dev"


@dataclass(frozen=True)
class PipelineConfig:
    env: str
    output_base_path: str
    reports: tuple[ReportConfig, ...] = field(default_factory=tuple)
    endpoints: tuple[EndpointConfig, ...] = field(default_factory=tuple)

    def report_plan(self) -> tuple[ReportConfig, ...]:
        """The reports a run fetches, in ``reports`` order: enabled, in
        ``env``, and with an endpoint of their ``endpoint_type`` in
        ``env``. Two endpoints of one type in ``env`` raise
        ``ValueError``; the join would run each of its reports twice."""
        types = Counter(e.endpoint_type for e in self.endpoints if e.env == self.env)
        if dup := sorted(t for t, n in types.items() if n > 1):
            raise ValueError(f"more than one {self.env!r} endpoint of type {', '.join(dup)}")
        return tuple(
            r for r in self.reports if r.enabled and r.env == self.env and r.endpoint_type in types
        )


def from_json_doc(doc: dict, env: str = "dev") -> PipelineConfig:
    """Local profile: parse the reference-shaped ``config.json``
    (config.example.json:1-22 — base_url/auth_endpoint/.../reports[])."""
    endpoint = EndpointConfig(
        endpoint_type="standard",
        base_url=doc["base_url"],
        auth_endpoint=doc.get("auth_endpoint", "/oauth/token"),
        post_endpoint=doc.get("post_endpoint", "/reports/generate"),
        get_endpoint=doc.get("get_endpoint", "/reports/download"),
        env=env,
    )
    reports = tuple(
        ReportConfig(report_name=r, env=env) if isinstance(r, str) else ReportConfig(env=env, **r)
        for r in doc.get("reports", ())
    )
    return PipelineConfig(
        env=env,
        output_base_path=doc.get("output_base_path", "/tmp/talkdesk_out"),
        reports=reports,
        endpoints=(endpoint,),
    )


def report_frame(spark: SparkSession, reports: tuple[ReportConfig, ...]) -> DataFrame:
    """``reports`` as a ``REPORT_CONFIG_SCHEMA`` local relation: its
    jobs run no Python worker."""
    return local_frame(
        spark,
        [(r.report_name, r.enabled, r.endpoint_type, r.retries, r.timeout_sec, r.env) for r in reports],
        REPORT_CONFIG_SCHEMA,
    )


def config_dataframes(spark: SparkSession, cfg: PipelineConfig) -> tuple[DataFrame, DataFrame]:
    """Config as local-relation DataFrames with the reference's exact
    schemas: the relational form ``build_report_plan`` works on."""
    endpoint_df = local_frame(
        spark,
        [
            (e.endpoint_type, e.base_url, e.auth_endpoint, e.post_endpoint, e.get_endpoint, e.env)
            for e in cfg.endpoints
        ],
        ENDPOINT_CONFIG_SCHEMA,
    )
    return report_frame(spark, cfg.reports), endpoint_df


def from_config_tables(
    report_df: DataFrame, endpoint_df: DataFrame, env: str, output_base_path: str
) -> PipelineConfig:
    """Catalog profile: hydrate the typed config from the seeded
    control tables (reference DDLC:36-89 → runtime read DB:191-200).
    Config tables are KB-scale dimensions — the collect is bounded
    orchestration metadata, never payload."""
    reports = tuple(
        ReportConfig(
            report_name=r["report_name"],
            enabled=r["enabled"],
            endpoint_type=r["endpoint_type"],
            retries=r["retries"],
            timeout_sec=r["timeout_sec"],
            env=r["env"],
        )
        for r in report_df.filter(F.col("env") == env).collect()
    )
    endpoints = tuple(
        EndpointConfig(
            endpoint_type=e["endpoint_type"],
            base_url=e["base_url"],
            auth_endpoint=e["auth_endpoint"],
            post_endpoint=e["post_endpoint"],
            get_endpoint=e["get_endpoint"],
            env=e["env"],
        )
        for e in endpoint_df.filter(F.col("env") == env).collect()
    )
    return PipelineConfig(
        env=env, output_base_path=output_base_path, reports=reports, endpoints=endpoints
    )


def build_report_plan(report_df: DataFrame, endpoint_df: DataFrame, env: str) -> DataFrame:
    """The reference's logical plan (DIST:42-53): filtered config scans
    + equi join on endpoint_type. The endpoint side is dimension-sized
    → broadcast hint; Catalyst pushes both filters into the scans.
    ``PipelineConfig.report_plan`` gives the same reports without Spark."""
    reports = report_df.filter((F.col("enabled") == True) & (F.col("env") == env))  # noqa: E712
    endpoints = endpoint_df.filter(F.col("env") == env).drop("env")
    return reports.join(F.broadcast(endpoints), "endpoint_type")
